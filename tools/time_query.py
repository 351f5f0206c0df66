"""Isolated per-query timing (guide §1.4): noop-sink each named query in
a fresh session, N reps, print JSON. ``--plans DIR`` writes the
explain('formatted') plan of the last timed rep's own DataFrame, after
its action, so the plan is the one that was measured (the query is not
built a second time). Each rep's pinned caches are released after its
action, outside the timed region.

Usage: python tools/time_query.py q1 q2 ... [--reps 2] [--plans DIR]
       [--count]  (use the bench's count() action instead of noop)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--count", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from entity_linking_spark.plans import queries as Q
    from entity_linking_spark.session import get_spark

    spark = get_spark("time_query")
    all_q = entry_mod.queries()
    out: dict[str, list[float]] = {}
    for name in args.names:
        fn = all_q[name]
        out[name] = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = fn(spark, args.sf)
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            out[name].append(round(time.time() - t0, 3))
            if args.plans and rep == args.reps - 1:
                os.makedirs(args.plans, exist_ok=True)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(plan)
            # untimed: the next rep must not pay this rep's unpersist
            Q._release_live_caches()
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
