"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs every queries() entry at the given sf dir, runs the matching oracle_sql()
in DuckDB over the same parquet (views pre-registered like the driver does),
and compares row counts + sorted values. Usage:

    python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from bela_spark.session import default_cpus, get_spark

    spark = get_spark(
        app_name="oracle-check", master=f"local[{default_cpus()}]", shuffle_partitions=8
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows-only) — {len(srows)} rows "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
            continue
        a = _normalize(srows, scols)
        b = _normalize(orows, ocols)
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            failures.append(name)
            continue
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            failures.append(name)
            continue
        print(f"ok    {name}: {len(a)} rows match [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
