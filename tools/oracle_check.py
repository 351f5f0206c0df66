"""Local emulation of the driver's DuckDB-oracle correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name]
on DuckDB over the same sf dir, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, values stringified
with float canonicalization).

Usage: python tools/oracle_check.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# the checkout this tool lives in, ahead of any other on the path: the
# gate checks this tree's __spark_entry__ and package, never another's
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        # Dtype-strict: a float NEVER canonicalizes to an int string. The
        # driver's harness keeps DuckDB HUGEINT sums as float64, so Spark
        # BIGINT 103 vs oracle 103.0 must FAIL here too (round-1 lesson:
        # the lenient int-collapse masked exactly that bug class).
        if math.isnan(v):
            return "NaN"
        s = f"{v:.6g}"
        if "." not in s and "e" not in s and "inf" not in s:
            s += ".0"
        return s
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def run_check(spark, sf_dir: str, name_filter: str = "", quiet: bool = False) -> dict:
    """Run the full gate against an existing SparkSession; returns counts.

    Importable so bench.py can run the gate in the same JVM before
    publishing numbers — a red row never ships silently.
    """
    import __spark_entry__ as entry

    def say(msg: str) -> None:
        if not quiet:
            print(msg)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_weak = 0
    failures: list[str] = []
    for name, fn in queries.items():
        if name_filter and name_filter not in name:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            say(f"FAIL {name}: spark error: {str(e).splitlines()[0][:160]}")
            failures.append(name)
            n_fail += 1
            continue
        if name not in oracles:
            say(f"weak {name}: rows-only check, rows={len(srows)}")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            say(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:160]}")
            failures.append(name)
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            hs, hd = value_hash(scols, srows), value_hash(dcols, drows)
            if hs != hd:
                problems.append(f"value-hash {hs} vs {hd}")
                # show first differing row for debugging
                ss = sorted(srows)
                dd = sorted(drows)
                for a, b in zip(ss, dd):
                    if _canon_row(scols, a) != _canon_row(dcols, b):
                        problems.append(f"first-diff spark={a} duck={b}")
                        break
        if problems:
            say(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
            n_fail += 1
        else:
            say(f"PASS {name} rows={len(srows)}")
            n_pass += 1
    say(f"== {n_pass} pass, {n_fail} fail, {n_weak} weak ==")
    return {"pass": n_pass, "fail": n_fail, "weak": n_weak, "failures": failures}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    from entity_linking_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8)
    result = run_check(spark, sf_dir, name_filter)
    spark.stop()
    return 1 if result["fail"] else 0


def _canon_row(cols, row):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return "|".join(_canon(row[i]) for i in order)


if __name__ == "__main__":
    raise SystemExit(main())
