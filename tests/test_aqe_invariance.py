"""AQE-invariance gate for the pinned-partition pair stage.

bench.py and scripts/submit_linkage.py run the linkage pipeline with
spark.sql.adaptive.enabled=false (the pipeline pins every pair-stage
shuffle's partitioning, so AQE only adds per-query-stage materialization
barriers — measured 25% wall tax at 16 threads, BASELINE.md "Round-5 scaling
measurement"). That is only sound if results are bit-identical either way;
this test pins it at a scale where both key tiers (plain / chained) engage,
guarding against any future operator re-introducing plan-dependent values
(the spark_partition_id chunk-id divergence of round 4 was exactly such a
bug, caught at 600k rows only).
"""

from pyspark.sql import functions as F

from bela_spark.config import LinkageConfig
from bela_spark.fixtures import synth_repo_files
from bela_spark.pipeline import run_linkage


def _signature(spark, df_rows):
    """(pair count, score digest, cluster digest) for one linkage run."""
    run = run_linkage(
        synth_repo_files(spark, df_rows, seed=42),
        # tiny tier thresholds force hot plain AND chained keys at fixture scale
        LinkageConfig.at_scale(hot_key_threshold=6, mega_key_threshold=24),
        collapse_exact=True,
    )
    scored = run.scored.agg(
        F.count("*").alias("n"),
        F.sum(F.hash("id1", "id2", F.format_number("score", 9))).alias("digest"),
    ).collect()[0]
    clusters = run.clusters.agg(
        F.count("*").alias("n"),
        F.sum(F.hash("rid", "cluster_id")).alias("digest"),
    ).collect()[0]
    run.release()
    return tuple(scored) + tuple(clusters)


def test_linkage_results_identical_with_and_without_aqe(spark):
    orig = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        with_aqe = _signature(spark, 3000)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        without_aqe = _signature(spark, 3000)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", orig)
    assert with_aqe == without_aqe
    assert with_aqe[0] > 0  # non-degenerate: pairs were actually scored
