"""SINGLE-JOB multi-executor scaling evidence via local-cluster mode.

Replicating independent pipeline processes omits cross-executor shuffle
by construction, and local[N] vs local[4N] threads share one heap/GC, a
contention a real cluster does not have. The honest middle is Spark's
``local-cluster[W, coresPerWorker, memMB]`` master: ONE job, W separate
executor JVMs, real serialized inter-executor shuffle over netty —
exactly the N -> 4N executor scale-up the north rule names, minus only
the network hop (executors are co-located on this host, as co-located
cluster executors share a node).

Per-executor resources are held constant across configs (1 core +
12 GiB + single-threaded BLAS per executor JVM; ActiveProcessorCount
pins the JVM's GC/JIT view), so 4N brings 4x cores AND 4x memory, like
adding real executors does.

``--job`` picks the measured job:
  el        ``python -m entity_linking_spark.pipeline`` over synthetic
            documents + KB aliases (default);
  curation  ``python -m entity_linking_spark.curation --stats`` over the
            forged corpus of ``tools/scale_bench.py curation`` (same
            plants, same derivable attrition; --stats because the
            stage-boundary persist is the documented fast mode at >= 1M
            docs).

Usage: python tools/cluster_scaling_bench.py [n_docs] [n_workers] [reps]
       [base_workers] [--job {el,curation}]
(reps alternate base-worker / n-worker runs; min per config — the host
throttles in bursts, see BENCH/BASELINE.md. base_workers defaults to 1;
pass e.g. 2 with n_workers=8 to measure N=2 -> 4N=8 with BOTH configs in
the multi-process regime — the truer N -> 4N executor analog on hosts
whose serial and parallel throughput degrade differently.)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEM_MB = 12288


def prep_input(n_docs: int, base: str) -> tuple[str, str]:
    """Synthetic EL documents + KB aliases as parquet (reused if present)."""
    sys.path.insert(0, REPO)
    from entity_linking_spark import schema as S
    from entity_linking_spark.session import get_spark

    docs_path, aliases_path = f"{base}/docs", f"{base}/aliases"
    if os.path.exists(docs_path) and os.path.exists(aliases_path):
        return docs_path, aliases_path
    spark = get_spark("scaling-prep", cores=16)
    n_entities = max(100, n_docs // 10)
    S.synth_documents_spark(spark, n_docs, n_entities).write.mode(
        "overwrite"
    ).parquet(docs_path)
    kb = S.synth_kb(n_entities)
    spark.createDataFrame(S.kb_to_aliases(kb), schema=S.ALIASES_SCHEMA).write.mode(
        "overwrite"
    ).parquet(aliases_path)
    spark.stop()
    return docs_path, aliases_path


def prep_curation(n_docs: int, base: str) -> tuple[str, str]:
    """The forged curation corpus + decontamination benchmark (reused)."""
    from scale_bench import forge_curation

    from entity_linking_spark.session import get_spark

    if not os.path.exists(f"{base}/docs"):
        spark = get_spark("curation-forge", cores=16)
        forge_curation(spark, n_docs, base)
        spark.stop()
    return f"{base}/docs", f"{base}/bench"


def el_cmd(inputs: tuple[str, str], out: str) -> list[str]:
    docs_path, aliases_path = inputs
    return [
        "-m", "entity_linking_spark.pipeline",
        "--workdir", out,
        "--input-docs", docs_path,
        "--input-aliases", aliases_path,
        "--force",
    ]


def curation_cmd(inputs: tuple[str, str], out: str) -> list[str]:
    docs_path, bench_path = inputs
    return [
        "-m", "entity_linking_spark.curation",
        "--input", docs_path,
        "--output", out,
        "--url-col", "url",
        "--benchmark", bench_path,
        "--min-words", "20",
        "--stats",
    ]


# job -> (base dir prefix, input prep, command builder, key of the
# output row count in the job's JSON summary)
JOBS = {
    "el": ("/tmp/el_scaling", prep_input, el_cmd, "docs"),
    "curation": ("/tmp/el_curation_scaling", prep_curation, curation_cmd, "n_out"),
}


def run_at(job: str, workers: int, inputs: tuple[str, str], base: str) -> dict:
    out_path = f"{base}/lc_run_w{workers}"
    shutil.rmtree(out_path, ignore_errors=True)
    import pyspark

    env = dict(os.environ)
    env.update(
        {
            "SPARK_HOME": os.path.dirname(pyspark.__file__),
            "SPARK_GRAFT_MASTER": f"local-cluster[{workers},1,{MEM_MB}]",
            # the driver JVM only schedules + runs the tiny final collect;
            # give it a fixed small slice so it is identical across configs
            "SPARK_DRIVER_MEMORY": "8g",
            "SPARK_GC_OPTS": "-XX:ActiveProcessorCount=2",
            "SPARK_GRAFT_CONF": json.dumps(
                {
                    "spark.executor.memory": f"{MEM_MB}m",
                    # each executor JVM believes it owns 1 core: GC threads,
                    # JIT compiler threads, netty pools all size to 1
                    "spark.executor.extraJavaOptions": "-XX:ActiveProcessorCount=1",
                    "spark.executorEnv.OMP_NUM_THREADS": "1",
                    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
                    "spark.executorEnv.MKL_NUM_THREADS": "1",
                    "spark.executorEnv.PYTHONPATH": REPO,
                }
            ),
            # keep numpy single-threaded in the DRIVER python too
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    # --cores only sizes shuffle partitions here (the master override
    # decides real parallelism); keep it IDENTICAL across configs so both
    # runs execute the same physical plan
    cmd = [sys.executable, *JOBS[job][2](inputs, out_path), "--cores", "4"]
    out = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=5400, env=env
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:] + "\n")
        raise RuntimeError(f"{job} job produced no JSON at W={workers}")
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("n_docs", type=int, nargs="?", default=1000000)
    ap.add_argument("n_workers", type=int, nargs="?", default=4)
    ap.add_argument("reps", type=int, nargs="?", default=2)
    ap.add_argument("base_workers", type=int, nargs="?", default=1)
    ap.add_argument("--job", choices=sorted(JOBS), default="el")
    args = ap.parse_args()
    n_workers, base_workers = args.n_workers, args.base_workers
    assert (
        n_workers % base_workers == 0 and n_workers > base_workers
    ), "n_workers must be a strict multiple of base_workers"
    factor = n_workers // base_workers
    prefix, prep, _cmd, rows_key = JOBS[args.job]
    base = f"{prefix}_{args.n_docs}"
    inputs = prep(args.n_docs, base)

    runs_1, runs_w = [], []
    for rep in range(args.reps):
        r1 = run_at(args.job, base_workers, inputs, base)
        rw = run_at(args.job, n_workers, inputs, base)
        runs_1.append(r1)
        runs_w.append(rw)
        print(
            json.dumps(
                {
                    "rep": rep,
                    f"W{base_workers}": r1["seconds"],
                    f"W{n_workers}": rw["seconds"],
                    "rows_equal": r1[rows_key] == rw[rows_key],
                }
            ),
            flush=True,
        )
    r1 = min(runs_1, key=lambda r: r["seconds"])
    rw = min(runs_w, key=lambda r: r["seconds"])
    # both widths process the same rows, so the throughput ratio is the
    # inverse wall-time ratio
    eff = (r1["seconds"] / rw["seconds"]) / factor
    print(
        json.dumps(
            {
                "model": "single-job local-cluster (separate executor JVMs)",
                "job": args.job,
                "n_docs": args.n_docs,
                "workers_N": base_workers,
                "workers_scaled": n_workers,
                "scale_factor": factor,
                "seconds_N": r1["seconds"],
                "seconds_scaled": rw["seconds"],
                "rows_out": r1[rows_key],
                "scaling_efficiency": round(eff, 3),
                "meets_0.8": eff >= 0.8,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
