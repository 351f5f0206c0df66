"""The runtime decisions every stage and query makes, each made here once.

- ``spread``: whether a scan is spread over the cores before per-row work.
- ``resolve_fs``: which filesystem a path lives on.
- ``parquet_rows`` / ``input_rows``: how many rows an input has, read
  from parquet footers (metadata only, no Spark job).
- ``CacheScope``: when the frames a stage or query pinned are dropped.
- ``global_offsets``: the exact global prefix sum over a total order.
"""

from __future__ import annotations

import itertools
import math
import os
import threading

from pyspark.sql import Column, DataFrame, functions as F


def spread(df: DataFrame) -> DataFrame:
    """Repartition a scan to the session parallelism ONLY when it arrives
    in fewer splits than cores.

    A small parquet input is one ~128 MB split, so every expression
    downstream would run on one core (measured: the URL-canonicalization
    regexes burned 8.8 s of single-task CPU on a 0.6 MB corpus; the
    mention tokenizer took 3.9 s instead of under one on the sf0.1
    corpus). At real corpus scale the scan already yields more splits
    than cores and this returns ``df`` itself, so an unconditional
    repartition never shuffles a large corpus for nothing. Apply it only
    to per-ROW work upstream of aggregations: results then do not depend
    on the partitioning (doc-level float sums stay within their row)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def resolve_fs(path: str):
    """path -> (pyarrow FileSystem, fs-local path). Scheme-qualified
    paths (s3://, hdfs://, file://, ...) resolve via ``from_uri``; bare
    paths, relative ones included, are local."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _footer_rows(source) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(source).metadata.num_rows


def parquet_rows(path: str) -> dict[str, int]:
    """Per-file row counts of the parquet files under ``path`` (relative
    path -> rows), read from the FOOTERS: O(files), not O(rows).

    At 3k docs this replaced a Spark read-back job per pipeline stage
    (~0.5-1 s of fixed cost x 6 stages); at 100 TB it reads a few KB per
    file instead of re-scanning the output. ``partitionBy`` layouts nest
    files under ``key=value/`` directories, so the listing is recursive.
    Raises when ``path`` does not exist, there is no parquet file under
    it (e.g. an orc snapshot) or a footer cannot be read."""
    from pyarrow import fs as pafs

    filesystem, fs_path = resolve_fs(path)
    infos = filesystem.get_file_info(pafs.FileSelector(fs_path, recursive=True))
    out: dict[str, int] = {}
    for info in sorted(infos, key=lambda i: i.path):
        if info.is_file and info.path.endswith(".parquet"):
            with filesystem.open_input_file(info.path) as f:
                out[os.path.relpath(info.path, fs_path)] = _footer_rows(f)
    if not out:
        raise FileNotFoundError(f"no parquet files under {path}")
    return out


def _input_files(df: DataFrame) -> set[str]:
    """Files of the file relations in ``df``'s ANALYZED plan. Not
    ``df.inputFiles()``: it walks the optimized plan, where a persisted
    frame's cached data has replaced them (0 files for a cached read)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: set[str] = set()
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            relation = leaf.relation()
            if relation.getClass().getSimpleName() == "HadoopFsRelation":
                files.update(relation.inputFiles())
    return files


def input_rows(df: DataFrame) -> int | None:
    """The summed footer row counts of every parquet file ``df`` reads,
    without a Spark job.

    The count is taken BEFORE any filter, join or aggregate in the plan:
    ``A.where(...)`` gives A's file rows, ``A.join(B)`` gives A's plus
    B's, and a persisted ``A`` still gives A's. So it sizes the inputs of
    a plan, not its output. Returns None only when the plan reads no
    local parquet file (``createDataFrame``, other formats) or reads one
    on remote storage; callers decide whether unknown means "small" or
    "pay a count()"."""
    try:
        files = [f for f in _input_files(df) if f.endswith(".parquet")]
    except Exception:  # noqa: BLE001 — plan not walkable
        return None
    if not files:
        return None
    from urllib.parse import urlparse

    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            # remote storage (hdfs://, s3a://, ...): the driver-side
            # pyarrow open can't reuse the executor URI, and stripping
            # the scheme would probe a bogus local path
            return None
        total += _footer_rows(parsed.path if parsed.scheme == "file" else f)
    return total


class CacheScope:
    """Frames pinned (persisted) within one scope — a query or a
    pipeline stage — and released together once the scope's action
    has run.

    Operators take the scope as their ``cache_registry`` argument and
    only ``append`` to it; the owner of the scope calls ``release``. A
    persist can only be dropped after the action that reads it, so the
    owner releases at the next scope's start (queries) or after the
    stage's snapshot write (pipeline). Without the release, a long
    session accumulates every scope's MEMORY_AND_DISK pins until driver
    GC and the ContextCleaner catch up, which cost the following queries
    seconds of storage pressure and JVM GC. Both methods are safe to
    call from several driver threads."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._frames: list[DataFrame] = []

    def append(self, df: DataFrame) -> None:
        with self._lock:
            self._frames.append(df)

    def release(self) -> None:
        """Unpersist (non-blocking) every appended frame, newest first;
        release is best-effort, so a frame that fails to unpersist is
        skipped."""
        with self._lock:
            frames, self._frames = self._frames, []
        for df in reversed(frames):
            try:
                df.unpersist(False)
            except Exception:  # noqa: BLE001
                pass


def global_offsets(
    df: DataFrame, order_cols: list[str], weight: Column
) -> tuple[DataFrame, int]:
    """``df`` plus ``_off`` — the sum of ``weight`` over every row
    strictly before the row in the total order ``order_cols`` — and the
    grand total of ``weight``.

    ``order_cols`` must be a total order (ties broken down to a unique
    column) whose first column is numeric; a NULL or NaN first key
    raises ValueError. A global ``Window.orderBy`` would funnel the
    whole corpus through ONE task; this is instead the two-pass prefix
    sum, keyed on data only:

    1. one job collects up to ``spark.sql.shuffle.partitions - 1``
       approximate quantiles of the first key, cast to double (the cast
       is monotone, so ties and long -> double collisions share a
       bucket);
    2. each row's bucket is a JVM binary search of its own key over
       those boundaries (``Bucketizer``, never a CASE chain: thousands
       of buckets would blow the codegen expression tree), and one job
       brings one weight total per bucket to the driver, which
       prefix-sums them into per-bucket offsets;
    3. a window partitioned by bucket and sorted on the exact
       ``order_cols`` adds the running sum within the bucket to the
       bucket's offset, looked up by bucket id in one array literal.

    The boundaries and offsets are literals of the returned plan, so
    re-running it (a dropped cache, a retried stage) puts every row in
    the same bucket: the answer never depends on cache residency or
    physical partition ids. The window's own hash exchange on the
    bucket id is the only shuffle; range-partitioning on the bucket id
    instead would keep every bucket on its own task, but its sampling
    job cost more than the hash collisions (lm_perplexity gate and
    200k-doc packing, 4 cores). Nothing is persisted here; ``df`` is
    read by both jobs and by the returned plan, so callers persist it
    when it is costly to recompute."""
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql.window import Window

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # + 0.0 folds -0.0 into 0.0, which Spark's sort orders as equal
    key = F.col(order_cols[0]).cast("double") + F.lit(0.0)
    qs = df.select(key.alias("_key")).approxQuantile(
        "_key", [i / n for i in range(1, max(n, 2))], 0.25 / n
    )
    # Bucketizer needs one inner split even when an empty input has no
    # quantile
    inner = sorted({q for q in qs if math.isfinite(q)}) or [0.0]
    splits = [-math.inf, *inner, math.inf]
    n_buckets = len(splits) - 1
    bucketed = (
        Bucketizer(splits=splits, inputCol="_key", outputCol="_b", handleInvalid="keep")
        .transform(df.withColumn("_key", key))
        .withColumn("_bkt", F.col("_b").cast("int"))
        .drop("_key", "_b")
    )
    totals = dict(bucketed.groupBy("_bkt").agg(F.sum(weight)).collect())
    if set(totals) - set(range(n_buckets)):  # NULL -> None, NaN -> n_buckets
        raise ValueError(f"NULL or NaN in the first order column {order_cols[0]!r}")
    *offsets, total = itertools.accumulate(
        (totals.get(b) or 0 for b in range(n_buckets)), initial=0
    )
    before = Window.partitionBy("_bkt").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = F.element_at(F.lit(offsets).cast("array<bigint>"), F.col("_bkt") + 1)
    out = bucketed.select(
        *df.columns,
        (boff + F.coalesce(F.sum(weight).over(before), F.lit(0))).alias("_off"),
    )
    return out, total
