"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pairs_per_sec": ...}

The linkage benchmark synthesizes the north-rule repo_files table at a size
proportional to sf (6M rows/sf unit -> 600k at sf=0.1) and runs the full
blocking -> fused pair join + scoring -> clustering pipeline with exact-content
collapse (the at-scale configuration). pairs_per_sec is scored candidate
pairs per second — the BASELINE.json throughput metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_linkage = int(os.environ.get("BELA_BENCH_ROWS", str(int(6_000_000 * sf))))

    from bela_spark import queries as q
    from bela_spark.config import LinkageConfig
    from bela_spark.fixtures import synth_repo_files
    from bela_spark.pipeline import run_linkage
    from bela_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    spark = get_spark(
        app_name="bela-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 32),
    )

    # min-of-N steady state (VERDICT r3): this box's same-code pass-to-pass
    # noise is documented at up to ±40% (BASELINE.md) — single-pass numbers
    # are not comparable round-over-round. Each query runs BELA_BENCH_PASSES
    # times (default 2) and reports the MIN, like bench_scaling.py already
    # does; pass 1 also absorbs JVM/codegen warmup.
    passes = max(1, int(os.environ.get("BELA_BENCH_PASSES", "2")))
    timings: dict[str, float] = {}
    per_pass: dict[str, list[float]] = {}
    extras: dict[str, float] = {}
    # box-state context (VERDICT r4 #3): a driver-vs-builder gap under load
    # should be attributable to contention, not argued — record the 1-min
    # load average at start and end alongside the per-pass spreads
    with open("/proc/loadavg") as f:
        extras["loadavg_start"] = float(f.read().split()[0])

    def timed(name, fn):
        best, out = None, None
        for _ in range(passes):
            # each pass starts cache-clean, so pass 2 does not measure under
            # pass 1's caches; a linkage pass's checkpoints are freed by its
            # LinkageRun.release (clearCache does not reach them)
            spark.catalog.clearCache()
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            per_pass.setdefault(name, []).append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return out

    # AQE stays ON for the end-to-end rows — a deliberately two-sided,
    # measured call (round 5). The isolated PAIR-STAGE job is faster with
    # AQE off (30.4s vs 40.4s at 2M rows/16 threads: its partitioning is
    # fully pinned, so adaptive re-planning only contributes per-query-stage
    # materialization barriers — bench_scaling.py ships that setting). But
    # the FULL pipeline timed here is faster with AQE on (A/B at 600k rows /
    # local[32], same counts both ways: 99.8s vs 152.6s) — the un-pinned IDF
    # weight stages and the iterative CC tail shrink geometrically, and
    # AQE's partition coalescing beats fixed 64-partition shuffles over
    # small frames. Results are identical either way
    # (tests/test_aqe_invariance.py); only the schedule differs.

    # 1. flagship: full ER pipeline over the driver documents table
    timed("flagship_clusters", lambda: q.er_flagship_clusters(spark, sf_dir).collect())

    # 2. linkage throughput on synthesized repo_files (the north-rule job).
    # Synthesis stays LAZY inside the plan: it is pure generated-column
    # codegen that fuses into the first stage (measured: materializing it
    # first via localCheckpoint costs ~60s of ser/de at sf0.1 — slower than
    # recomputing it inline), so the timed DAG includes it at ~zero cost.
    df = synth_repo_files(spark, n_linkage, seed=42)

    last_run: list = []

    def _linkage():
        from pyspark.sql import functions as F

        run = run_linkage(df, LinkageConfig.at_scale(), collapse_exact=True)
        n_pairs = run.scored.count()
        n_clusters = run.clusters.select("cluster_id").distinct().count()
        # tier-switch visibility (VERDICT r3 stretch): how many hot keys
        # (above hot_key_threshold) paired in the plain equi-join vs the
        # anti-quadratic chained path this round — at 600k (sf0.1) 113 keys
        # chain; at BELA_BENCH_ROWS=4000000 the chained regime dominates (the
        # full 4M variant is the BASELINE.md evidence)
        strat = {
            r["strategy"]: r["n"]
            for r in run.key_drops.groupBy("strategy")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        extras["n_records"] = n_linkage
        extras["n_scored_pairs"] = n_pairs
        extras["n_clusters"] = n_clusters
        extras["n_hot_plain_keys"] = strat.get("plain", 0)
        extras["n_chained_keys"] = strat.get("chained", 0)
        # the LAST pass's run stays alive so the F1 gate below can reuse its
        # scored/pairs; an earlier pass's run is released here
        if last_run:
            last_run[0].release()
        last_run[:] = [run]
        return n_pairs

    n_pairs = timed("linkage_end_to_end", _linkage)
    extras["pairs_per_sec"] = round(n_pairs / max(timings["linkage_end_to_end"], 1e-9), 1)

    # UNTIMED pairwise-F1 gate at bench scale: the pytest gate runs at 800
    # rows where the chained tier never engages; this one scores the SAME
    # metric (micro F1 of score>=threshold vs planted truth over candidate
    # pairs) on the full 600k bench input — the scale where both key tiers
    # (plain/chained) are live — and rides the last timed pass's
    # still-persisted frames, so it costs one label join, not a re-run.
    from bela_spark.fixtures import synth_repo_files as _synth_truth
    from bela_spark.pipeline import label_pairs, pairwise_f1

    cfg0 = LinkageConfig.at_scale()
    truth = _synth_truth(spark, n_linkage, seed=42, with_truth=True).selectExpr(
        "sha2(concat_ws('||', repo, path, commit), 256) as rid", "group_id"
    )
    run = last_run[0]
    f1_row = pairwise_f1(
        label_pairs(run.pairs, truth), run.scored, cfg0.score_threshold
    ).collect()[0]
    extras["bench_scale_f1"] = round(f1_row["f1"], 6)
    extras["bench_scale_tp"] = f1_row["tp"]
    extras["bench_scale_fp"] = f1_row["fp"]
    extras["bench_scale_fn"] = f1_row["fn"]
    run.release()

    # 2b. chained-regime linkage (VERDICT r4 missing #2): the sorted-
    # neighborhood tier — the regime that dominates at 4M+ rows / 100 TB —
    # timed as its own driver-visible row. Same forcing trick the oracle
    # queries use (er_chained_pairs): mega_key_threshold == hot_key_threshold
    # sends EVERY >hot key down the chain path on the same 600k input, so the
    # row times chain ranking + scoring + CC with no hot key paired
    # quadratically, at bench scale, every round. Counts are reported
    # separately (the pair set is linear-emission by design, smaller than
    # the headline's quadratic tier).
    chained_cfg = LinkageConfig.at_scale(
        mega_key_threshold=LinkageConfig().hot_key_threshold
    )

    def _linkage_chained():
        from pyspark.sql import functions as F

        run = run_linkage(df, chained_cfg, collapse_exact=True)
        n_pairs_c = run.scored.count()
        n_clusters_c = run.clusters.select("cluster_id").distinct().count()
        strat = {
            r["strategy"]: r["n"]
            for r in run.key_drops.groupBy("strategy")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        extras["chained_n_scored_pairs"] = n_pairs_c
        extras["chained_n_clusters"] = n_clusters_c
        extras["chained_n_chained_keys"] = strat.get("chained", 0)
        run.release()
        return n_pairs_c

    n_pairs_c = timed("linkage_chained_regime", _linkage_chained)
    extras["chained_pairs_per_sec"] = round(
        n_pairs_c / max(timings["linkage_chained_regime"], 1e-9), 1
    )

    # 3. ANN top-k over the driver embeddings: the LSH-bucketed scale path
    # (capped buckets, no all-pairs product) — the brute-force crossJoin stays
    # an oracle-only exactness anchor, never a benched path
    timed("ann_lsh_topk", lambda: q.ann_lsh_topk(spark, sf_dir).count())

    # 4. MinHash near-dup over driver documents
    timed("dedup_ngram_jaccard", lambda: q.dedup_ngram_jaccard(spark, sf_dir).count())

    # 5. text-analysis sweep (token stats + quality + langid in one pass each)
    timed("text_analysis", lambda: (
        q.text_token_stats(spark, sf_dir).count()
        + q.text_quality(spark, sf_dir).count()
        + q.text_langid(spark, sf_dir).count()
    ))

    total = round(sum(timings.values()), 3)
    with open("/proc/loadavg") as f:
        extras["loadavg_end"] = float(f.read().split()[0])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # every pass's wall time, in run order (VERDICT r4 #3: the
                # min-only report hid per-pass spread, making driver-vs-
                # builder discrepancies arguable instead of diagnosable)
                "per_pass": per_pass,
                "sf": sf,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
