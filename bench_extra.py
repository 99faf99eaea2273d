"""Phase-level measurement harness for the optimization round (guide §1).

NOT the driver bench — bench.py is frozen. This file isolates where the wall
time of each headline query goes, using the noop sink (guide §1.4) and
setJobDescription labels (§1.5), so optimizations target the measured phase,
not a guess. Phases are timed sequentially on a fresh session with the same
env contract as bench.py ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS).

Usage:  python bench_extra.py [linkage|chained|flagship|small|all]
Prints one JSON line per phase plus a summary dict.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_linkage = int(os.environ.get("BELA_BENCH_ROWS", str(int(6_000_000 * sf))))

    from pyspark.sql import functions as F

    from bela_spark import queries as q
    from bela_spark.config import LinkageConfig
    from bela_spark.fixtures import synth_repo_files
    from bela_spark.operators.scoring import accept_edges
    from bela_spark.pipeline import (
        pair_stage_features,
        prepare_records,
    )
    from bela_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    spark = get_spark(
        app_name="bela-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 32),
    )
    sc = spark.sparkContext

    timings: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        sc.setJobDescription(None)
        timings[name] = round(dt, 3)
        print(json.dumps({"phase": name, "sec": timings[name]}), flush=True)
        return out

    if which in ("linkage", "all"):
        # --- linkage_end_to_end decomposed ---------------------------------
        cfg = LinkageConfig.at_scale()
        df = synth_repo_files(spark, n_linkage, seed=42)

        # P0: synthesis alone (mapInPandas python cost)
        timed("p0_synthesis_noop", lambda: noop(df))

        # P1: records (normalize + sha + tokens), persisted + collapse
        records = prepare_records(df, cfg)
        records = records.persist()
        ck = F.coalesce(F.md5("norm"), F.lit("\0"))
        reps = records.groupBy(ck.alias("_ck")).agg(F.min("rid").alias("rep"))
        records2 = (
            records.withColumn("_ck", ck).join(reps.hint("shuffle_hash"), "_ck").drop("_ck")
        ).persist()
        timed("p1_records_collapse", lambda: noop(records2))
        base = records2.filter(F.col("rid") == F.col("rep"))

        # P2: blocking keys (minhash md5 etc.) alone
        from bela_spark.operators.blocking import blocking_keys

        keys = blocking_keys(base, cfg)
        timed("p2_blocking_keys_noop", lambda: noop(keys))

        # P3: pair-stage features (IDF weighting path)
        feats = pair_stage_features(base, cfg)
        timed("p3_idf_features_noop", lambda: noop(feats))

        # P4: keys join features (persisted, as run_linkage does)
        kwf = keys.join(pair_stage_features(base, cfg).hint("merge"), "rid").persist()
        timed("p4_keys_features_persist", lambda: noop(kwf))

        # P5: fused pair stage + scoring (scored_by_key)
        from bela_spark.operators.scoring import dedup_scored, fused_block_and_score

        scored_by_key, drops = fused_block_and_score(kwf, cfg, persist=True)
        timed("p5_scored_by_key_noop", lambda: noop(scored_by_key))

        # P6: dedup to unique pairs (recomputes pair stage from keyed cache)
        scored = dedup_scored(scored_by_key)
        timed("p6_dedup_scored_noop", lambda: noop(scored))

        # P7: edges + CC (recomputes pair stage again from keyed cache)
        from bela_spark.operators.cc import connected_components

        edges = accept_edges(scored_by_key, cfg)
        cc = timed(
            "p7_cc_total",
            lambda: connected_components(edges, max_rounds=cfg.max_cc_rounds),
        )
        print(json.dumps({"cc_rounds": cc.rounds, "converged": cc.converged}), flush=True)

        # P8: cluster assignment + distinct count
        rep_assign = cc.assignments.withColumnRenamed("rid", "rep")
        clusters = (
            records2.join(rep_assign.hint("merge"), "rep", "left")
            .withColumn("cluster_id", F.coalesce("component", "rep"))
            .drop("component", "rep")
        )
        timed(
            "p8_clusters_distinct_count",
            lambda: clusters.select("cluster_id").distinct().count(),
        )

    if which in ("flagship", "all"):
        timed("flagship_collect", lambda: q.er_flagship_clusters(spark, sf_dir).collect())

    if which in ("small", "all"):
        timed("ann_lsh_topk", lambda: q.ann_lsh_topk(spark, sf_dir).count())
        timed("dedup_ngram_jaccard", lambda: q.dedup_ngram_jaccard(spark, sf_dir).count())
        timed("text_token_stats", lambda: q.text_token_stats(spark, sf_dir).count())
        timed("text_quality", lambda: q.text_quality(spark, sf_dir).count())
        timed("text_langid", lambda: q.text_langid(spark, sf_dir).count())

    print(json.dumps({"summary": timings, "sf": sf, "n_linkage": n_linkage}))
    spark.stop()


if __name__ == "__main__":
    main()
