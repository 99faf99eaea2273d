"""Time EVERY declared query (the full __spark_entry__.queries() surface) at
a given sf_dir with the noop sink (guide §1.4), min-of-N passes, labeled jobs
(§1.5). NOT the driver bench — a coverage instrument for the optimization
round: finds queries with pathological plans that the 6-row bench never times.

Usage: python scripts/sweep_queries.py [sf_dir] [passes]
Prints one JSON line per query plus a sorted summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    import __spark_entry__ as m
    from bela_spark.session import default_cpus, get_spark

    cpus = default_cpus()
    spark = get_spark(
        app_name="sweep-queries", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 32),
    )
    sc = spark.sparkContext
    out: dict[str, float] = {}
    qs = m.queries()
    for name, fn in qs.items():
        best = None
        for _ in range(passes):
            spark.catalog.clearCache()
            sc.setJobDescription(name)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            sc.setJobDescription(None)
        out[name] = round(best, 2)
        print(json.dumps({"query": name, "min_s": out[name]}), flush=True)
    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]))
    print(json.dumps({"sf_dir": sf_dir, "total_s": round(sum(out.values()), 1),
                      "ranked": ranked}))
    spark.stop()


if __name__ == "__main__":
    main()
