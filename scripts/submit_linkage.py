"""spark-submit entry point for the record-linkage pipeline (north rule).

Cluster launch (the deployment shape BASELINE.json specifies):

    zip -r bela_spark.zip bela_spark
    spark-submit --py-files bela_spark.zip \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        scripts/submit_linkage.py \\
        --input iceberg:cat.db.repo_files --output /out/linkage

Local smoke (what tests/test_submit_job.py actually runs):

    spark-submit --master 'local[4]' --py-files bela_spark.zip \\
        scripts/submit_linkage.py --input synth:rows=2000 --output /tmp/out

Unlike the test/bench session factory, this builds its session WITHOUT a
master or resource config — spark-submit owns those on a cluster. Only the
pipeline-semantic confs (AQE, Arrow) are set, and only as defaults.

Outputs under --output:
    clusters/        parquet: every input row + cluster_id (partitioned by lang)
    key_drops/       parquet: the never-silent key log — every key above
                     hot_key_threshold with its size and pair strategy
                     (key, n_ids, strategy: "plain" or "chained")
    metrics.json     row/cluster counts, CC rounds, hot_keys (the key log's
                     key count per pair strategy, e.g. {"plain": 44}) and
                     top cluster sizes (driver-small)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# --py-files ships the bela_spark package zip; repo-root layout also works
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def build_session(app_name: str, aqe: bool = True) -> SparkSession:
    # AQE ON by default — measured both ways at 600k rows (round 5): the
    # full pipeline is ~1.5x FASTER with AQE (99.8s vs 152.6s, identical
    # outputs) because the un-pinned IDF weight stages and the geometrically
    # shrinking CC tail want runtime partition coalescing. The isolated
    # pair stage alone prefers AQE off (its partitioning is pinned and AQE
    # only adds stage barriers: 30.4s vs 40.4s at 2M rows/16 threads,
    # bench_scaling.py) — pass --no-aqe for deployments where the pair join
    # dominates end to end (very large chain windows, scoring-only reruns
    # from checkpointed weights).
    return (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # bound dead-scratch lifetime on long runs: the ContextCleaner frees
        # shuffle files / dropped checkpoint blocks only after a JVM GC, and
        # the default periodic GC every 30 min let a 16M-row run exhaust
        # local disk on blocks that were already dereferenced (see
        # bela_spark/session.py for the measurement)
        .config("spark.cleaner.periodicGC.interval", "5min")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="source spec (see bela_spark.sources)")
    p.add_argument("--output", required=True, help="output directory or parquet: spec")
    p.add_argument("--checkpoint-dir", default=None, help="CC lineage/resume dir")
    p.add_argument("--no-collapse-exact", action="store_true",
                   help="disable exact-content pre-collapse (debug only)")
    p.add_argument("--at-scale", action="store_true",
                   help="use LinkageConfig.at_scale(): IDF-weighted jaccard, "
                   "the corpus-scale-calibrated scorer (recommended >= 10^5 rows)")
    p.add_argument("--no-aqe", action="store_true",
                   help="disable adaptive query execution (wins only when the "
                   "pinned pair join dominates end to end; the default full "
                   "pipeline is ~1.5x faster WITH AQE — see build_session)")
    args = p.parse_args(argv)

    from bela_spark.config import LinkageConfig
    from bela_spark.pipeline import cluster_stats, run_linkage
    from bela_spark.sources import read_repo_files

    spark = build_session("bela-linkage", aqe=not args.no_aqe)
    cfg = (
        LinkageConfig.at_scale(checkpoint_dir=args.checkpoint_dir)
        if args.at_scale
        else LinkageConfig(checkpoint_dir=args.checkpoint_dir)
    )

    df = read_repo_files(spark, args.input)
    run = run_linkage(df, cfg, collapse_exact=not args.no_collapse_exact)

    out = args.output
    out = (out[len("parquet:"):] if out.startswith("parquet:") else out).rstrip("/")
    run.clusters.write.mode("overwrite").partitionBy("lang").parquet(f"{out}/clusters")
    run.key_drops.write.mode("overwrite").parquet(f"{out}/key_drops")

    # driver-small aggregates only (counts + top-10 cluster sizes)
    clusters = spark.read.parquet(f"{out}/clusters")  # reuse the written result
    top = [r.asDict() for r in cluster_stats(clusters).collect()]
    metrics = {
        "input": args.input,
        "rows": clusters.count(),
        "clusters": clusters.select("cluster_id").distinct().count(),
        "cc_rounds": run.cc.rounds,
        # every key above hot_key_threshold, by the tier that paired it;
        # no key is dropped, so the key log counts hot keys, not drops
        "hot_keys": {
            r["strategy"]: r["count"]
            for r in run.key_drops.groupBy("strategy").count().collect()
        },
        "top_clusters": top,
    }
    _write_text(spark, f"{out}/metrics.json", json.dumps(metrics, indent=2, default=str))
    print(json.dumps(metrics, default=str))


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small driver-side text file via the Hadoop FileSystem API so it
    lands next to the Spark outputs on ANY filesystem (file:/, hdfs://,
    s3a://). A local open() would silently create a bogus driver-local
    directory literally named 's3:/bucket/...' for non-local --output."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = fs.create(jpath, True)  # overwrite=True
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


if __name__ == "__main__":
    main()
