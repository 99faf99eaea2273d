"""The driver-facing query surface: one callable per implemented operator
(SURVEY.md section 2), each over the driver parquet tables at `sf_dir`.

Every callable here has (unless noted) an exact ANSI-SQL twin in
`bela_spark.oracles` runnable by DuckDB on the same tables. Parity rules:
  - float outputs pass through `f6` (floor to 6 decimals) on BOTH sides;
  - integer outputs are cast to bigint on BOTH sides;
  - all rankings carry total tie-breaks;
  - only md5/sha256/levenshtein/regexp primitives with identical semantics.

The ER queries treat the driver `documents` table as the record table
(content = text), i.e. the documents-as-repo_files adapter of pipeline.py;
the full north-rule pipeline on synthesized repo_files is exercised by
tests/test_pipeline_f1.py and bench.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from bela_spark.config import LinkageConfig
from bela_spark.functions.hashing import band_keys, minhash_signatures, minhash_wide, simhash_fp
from bela_spark.functions.text import normalized, normalized_sql, shingles_of, tokens_of
from bela_spark.functions.vectors import embed_text
from bela_spark.operators import el as el_ops
from bela_spark.operators import textops
from bela_spark.operators.ann import (
    brute_force_topk,
    lsh_bucket_keys,
    lsh_recall_vs_brute,
    lsh_topk,
    mrr,
    recall_at_k,
)
from bela_spark.operators.cc import connected_components
from bela_spark.operators.dedup import simhash_near_pairs
from bela_spark.operators.multimodal import extract_features, synth_media

CFG = LinkageConfig()
ER_THRESHOLD = 0.60
JACCARD_MIN = 0.40


def f6(c: Column | str) -> Column:
    """Floor to 6 decimals — float parity discipline with the DuckDB oracle."""
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * 1e6) / F.lit(1e6)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, norm, tokens): the ER record table.

    The explicit repartition spreads the scan before the CPU-dense derived
    work (normalize/tokenize here, 16x md5 minhash / simhash votes / winnow
    k-grams downstream): documents.parquet is a single small file, so the
    scan is ONE input split and everything fused onto it ran single-task —
    measured 3.9s of serial CPU in the er_edges stage profile (r6). The
    exchange moves a few hundred KB; the round-robin split is deterministic
    (sortBeforeRepartition) and row-level results are partitioning-invariant."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        _docs(spark, sf_dir)
        .repartition(n_parts)
        .withColumn("norm", normalized("text"))
        .withColumn("tokens", tokens_of("norm"))
        .select("doc_id", "lang", "source", "norm", "tokens")
    )


# ---------------------------------------------------------------------------
# ER family (S/T/J/P/C operators on the documents record table)
# ---------------------------------------------------------------------------

def er_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET2/T14: hash-groupBy exact dedup over sha256(text)."""
    return (
        _docs(spark, sf_dir)
        .select(F.sha2("text", 256).alias("content_sha"), "doc_id")
        .groupBy("content_sha")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
    )


def er_blocking_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 prefix family: 'pfx:' + first 2 normalized tokens."""
    r = _records(spark, sf_dir)
    return r.select(
        "doc_id",
        F.concat(F.lit("pfx:"), F.concat_ws(" ", F.slice("tokens", 1, CFG.prefix_len))).alias("key"),
    ).filter(F.length("key") > 4)


def _shingled(spark, sf_dir) -> DataFrame:
    r = _records(spark, sf_dir)
    return r.select("doc_id", shingles_of("tokens", CFG.shingle_k).alias("shingles"))


def er_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: per-seed md5 minhash over 3-token shingles."""
    sig = minhash_signatures(
        _shingled(spark, sf_dir), id_col="doc_id", num_hashes=CFG.num_minhashes
    )
    return sig.select("doc_id", F.col("seed").cast("bigint").alias("seed"), "mh")


def er_lsh_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: LSH band keys (4 bands x 4 hashes)."""
    wide = minhash_wide(
        _shingled(spark, sf_dir), id_col="doc_id", num_hashes=CFG.num_minhashes
    )
    bk = band_keys(wide, id_col="doc_id", num_hashes=CFG.num_minhashes, band_size=CFG.band_size)
    return bk.select("doc_id", F.col("band").cast("bigint").alias("band"), "band_key")


def _all_keys(spark, sf_dir) -> DataFrame:
    pfx = er_blocking_prefix(spark, sf_dir)
    bands = er_lsh_band_keys(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("mh:"), F.col("band").cast("string"), F.lit(":"), "band_key").alias("key"),
    )
    return pfx.unionByName(bands).distinct()


def er_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: capped + salted self-join per blocking key (the production pair
    operator, not a naked join), id1 < id2 canonical, distinct. The cap is
    deterministic (lowest ids per key win, row_number-expressible) so the
    DuckDB oracle replays it; the salt grid never changes the pair set."""
    from bela_spark.operators.pairs import candidate_pairs_with_drops

    # persist=False, MEASURED (r6 interleaved A/B, 3/3 rounds): at default
    # thresholds no mega tier engages, so the keyed frame's ~7 consumers are
    # cheap parallel recomputes that overlap inside their jobs, while a
    # persist serializes the DAG behind a cache-build barrier (7.4s vs 9.4s
    # mean flagship). er_chained_pairs is the opposite case — its lowered
    # thresholds trigger eager boundary jobs per consumer, and there the
    # persist wins 3/3 (see that query).
    keys = _all_keys(spark, sf_dir)
    pairs, _ = candidate_pairs_with_drops(keys, CFG, id_col="doc_id", persist=False)
    return pairs.select("id1", "id2", "key").distinct()


def er_chained_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 chained tier, oracle-exposed: the production two-tier pair stage
    with thresholds lowered (hot=2, mega=3, w=2) so the sorted-neighborhood
    chain ENGAGES at every driver scale (the biggest documents-table key has
    4-5 members at sf0.001/0.01) — at the default thresholds no key is big
    enough, leaving the most scale-critical code path (ranked_in_key's
    two-phase range-partitioned rank, scoring.py chain join) outside the SQL
    gate. Chain semantics (Hernandez-Stolfo): members of a key above the
    mega threshold rank by content (64-char norm prefix, then doc_id); rank
    r pairs with ranks r+1..r+w; ids canonicalize least/greatest. With w=2 a
    4-member chain emits 5 of the 6 full pairs, so the oracle DISTINGUISHES
    chaining from full pairing. Keys at or below the mega threshold pair
    fully in the plain equi-join. The DuckDB twin
    replays the rank as a row_number window, so every rank the two-phase
    implementation assigns is value-checked against the single-window
    form."""
    from bela_spark.operators.pairs import keyed_with_counts_cut
    from bela_spark.operators.scoring import fused_block_and_score

    cfg = LinkageConfig(hot_key_threshold=2, mega_key_threshold=3, chain_window=2)
    keys = _all_keys(spark, sf_dir)
    recs = _records(spark, sf_dir).select(
        "doc_id",
        F.substring("norm", 1, cfg.lev_max_chars).alias("norm"),
        F.array_distinct("tokens").alias("tokens"),
    )
    kwf = keys.join(recs, "doc_id")
    # cut, MEASURED (r6 interleaved A/B of a persist, 3/3 rounds: 9.5s vs
    # 13.5s mean): the lowered thresholds send most keys to the mega tier,
    # whose two-phase rank runs an EAGER boundary job that would re-execute
    # the minhash key-gen + record join without it. The cut observes the
    # largest key and the chained tier's rows, so the rank skips its count
    # job, and unlike a persist it leaves nothing in the session's cache.
    # Contrast er_candidate_pairs, where no mega tier engages and the
    # persist barrier measured slower.
    keyed, max_kn, mega_rows = keyed_with_counts_cut(kwf, cfg.mega_key_threshold)
    scored, _ = fused_block_and_score(
        keyed, cfg, id_col="doc_id", max_kn=max_kn, mega_rows=mega_rows
    )
    return scored.select("id1", "id2", "key").distinct()


def _coarse_tok1_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, 'tok1:'||first-token): the deliberately coarse blocking used
    by er_key_drops and er_capped_keys — one definition, mirrored by ONE
    shared CTE in oracles (_CKEYS), so the engine and both oracles cannot
    drift apart."""
    r = _records(spark, sf_dir)
    return r.filter(F.size("tokens") > 0).select(
        "doc_id", F.concat(F.lit("tok1:"), F.element_at("tokens", 1)).alias("key")
    )


def er_capped_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase hot-key cap, oracle-exposed: coarse first-token keys capped
    to their 3 lowest doc_ids with salt_buckets=2, so every key above 6
    members takes the salted big-key path (phase 1: lowest-3 per xxhash64
    salt bucket; phase 2: global lowest-3 of the survivors) at every fixture
    scale — at the defaults (salt_buckets=64) the big path needs >64*cap
    members and is pytest-only. The kept set is provably the plain lowest-3
    regardless of the salt function (each global winner is the lowest in its
    own bucket), which is exactly what the DuckDB twin's row_number replays —
    so the two-phase execution is value-checked against the one-window
    form."""
    from bela_spark.operators.pairs import cap_ids_per_key

    coarse = _coarse_tok1_keys(spark, sf_dir)
    capped = cap_ids_per_key(coarse, 3, key_col="key", id_col="doc_id", salt_buckets=2)
    return capped.select("doc_id", "key")


# Deliberately coarse blocking (first normalized token) exercises the per-key
# cap with real drops at every sf — the never-silent-truncation rule as a
# first-class, oracle-visible query.
DROPS_CAP = 8


def er_key_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 drop log: (key, n_ids, n_dropped) for every blocking key truncated
    by the cap — bounded fan-out is a feature, silent truncation is not
    (reference bounds: num_cand_mentions=50, joint_el_task.py:800-802)."""
    from bela_spark.operators.pairs import cap_keys

    coarse = _coarse_tok1_keys(spark, sf_dir)
    _, drops = cap_keys(coarse, LinkageConfig(max_ids_per_key=DROPS_CAP), id_col="doc_id")
    return drops.select(
        "key",
        F.col("n_ids").cast("bigint").alias("n_ids"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
    )


def _scored_pairs(spark, sf_dir) -> DataFrame:
    # The feature joins carry repartition-on-the-join-key pins (the
    # fused_block_and_score pattern): pair scoring is CPU-dense but
    # byte-light, and AQE's byte-based coalescing collapsed the post-join
    # stage to ONE task — the full-norm Levenshtein of every candidate pair
    # ran serially (measured: a 1-task 9.9s-CPU stage in er_edges, r6; the
    # filter also pushes below any later repartition, so the pin must sit ON
    # the join). AQE never coalesces REPARTITION_BY_NUM stages and the other
    # join side must align, so the scoring projection/filter spreads over the
    # full shuffle-partition count; Spark reuses the repartition exchange for
    # the join, so the exchange count is unchanged.
    # NOTE (r6): AQE broadcast-converts these joins (the pair side compresses
    # under the 64 MB threshold), which bypasses the repartition pins — but a
    # paired A/B (same session, alternating, 3 rounds) read 6.2s broadcast vs
    # 7.0s with forced merge joins: the lev+jaccard projection over ~14k
    # pairs is cheap enough that the avoided sorts beat the lost
    # parallelism, so the hints stay OFF here. The IDF variant below, whose
    # per-pair kernel is ~10x heavier and measurably serialized (13.4s
    # single-task stage), pins merge.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = er_candidate_pairs(spark, sf_dir).select("id1", "id2").distinct()
    r = _records(spark, sf_dir).select(
        "doc_id", "norm", F.array_distinct("tokens").alias("toks")
    )
    j = (
        pairs.repartition(n_parts, "id1")
        .join(
            r.select(
                F.col("doc_id").alias("id1"), F.col("norm").alias("n1"), F.col("toks").alias("t1")
            ),
            "id1",
        )
        .repartition(n_parts, "id2")
        .join(
            r.select(
                F.col("doc_id").alias("id2"), F.col("norm").alias("n2"), F.col("toks").alias("t2")
            ),
            "id2",
        )
        .withColumn(
            "f_lev",
            F.when(F.greatest(F.length("n1"), F.length("n2")) == 0, F.lit(1.0)).otherwise(
                1.0
                - F.levenshtein("n1", "n2")
                / F.greatest(F.length("n1"), F.length("n2")).cast("double")
            ),
        )
        .withColumn(
            "f_jac",
            F.when(F.size(F.array_union("t1", "t2")) == 0, F.lit(1.0)).otherwise(
                F.size(F.array_intersect("t1", "t2"))
                / F.size(F.array_union("t1", "t2")).cast("double")
            ),
        )
        .withColumn("score", (F.col("f_lev") + F.col("f_jac")) / 2.0)
    )
    return j


def er_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/E8: Levenshtein + token-Jaccard blend per candidate pair."""
    j = _scored_pairs(spark, sf_dir)
    return j.select(
        "id1", "id2", f6("f_lev").alias("f_lev"), f6("f_jac").alias("f_jac"), f6("score").alias("score")
    )


def er_idf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored-log2 integer IDF weight table over document tokens — the
    weight formula of the at-scale scorer (operators/idf.py), value-pinned:
    w = max(1, len(bin(N)) - len(bin(df)) + 1), all integer arithmetic over
    exact counts, so the DuckDB twin reproduces it bit-identically. Top 50
    tokens by document frequency (ties by token) keep the output small and
    deterministic."""
    r = _records(spark, sf_dir).select("doc_id", F.array_distinct("tokens").alias("dt"))
    # scalar subquery, not a 1-row crossJoin: keeps the plan join-free so the
    # no-all-pairs plan gate applies to this query like any other
    n_docs = r.agg(F.count("*").alias("_N")).scalar()
    dfreq = (
        r.select(F.explode("dt").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    return (
        dfreq.select(
            "token",
            F.col("df").cast("bigint").alias("df"),
            F.greatest(
                F.lit(1).cast("long"),
                (F.length(F.bin(n_docs)) - F.length(F.bin(F.col("df"))) + F.lit(1)).cast(
                    "long"
                ),
            ).alias("w"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(50)
    )


def er_idf_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/E8 at-scale variant: IDF-weighted token jaccard (via the REAL
    weight_tokens operator + weighted_jaccard_cols kernel, string-keyed) +
    full-norm Levenshtein, blended 0.2/0.5 like LinkageConfig.at_scale().
    This is the driver-visible value check for the weighted scorer whose
    effect at 600k rows the bench F1 gate measures (0.9788 -> 0.9989).
    The pipeline itself runs the packed form of the same kernel
    (weight_tokens_packed — token*64+weight longs, native array_intersect);
    tests/test_idf_scoring.py::test_packed_kernel_matches_struct_kernel pins
    the two bit-equal, so this oracle covers both."""
    from bela_spark.operators.idf import weight_tokens, weighted_jaccard_cols

    # join-key repartition pins: same single-task-Levenshtein fix as
    # _scored_pairs (AQE byte-based coalescing vs CPU-dense scoring)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = er_candidate_pairs(spark, sf_dir).select("id1", "id2").distinct()
    r = _records(spark, sf_dir).select(
        "doc_id", "norm", F.array_distinct("tokens").alias("tokens")
    )
    # persisted: tw feeds BOTH sides of the pair join below — one weighting
    # pass (explode + dfreq + join + re-assemble) instead of two per eval
    tw = weight_tokens(r, "doc_id", "tokens").persist()
    # hint("merge") on top of the repartition pins (r6): AQE broadcast-
    # converts these joins otherwise (the pair side compresses under the
    # 64 MB threshold), and a broadcast join erases the pinned build-side
    # partitioning — the weighted scoring projection then lands on the tiny
    # probe side, which AQE's byte-based coalescing collapses to ONE task
    # (measured: a 13.4s single-task ResultQueryStage running the full-norm
    # Levenshtein + map-probe weighted jaccard of every pair serially). The
    # merge hint survives AQE replanning, so the scoring fuses into the
    # pinned n_parts join stage: min-of-2 19.7s -> 12.0s. The unweighted
    # _scored_pairs keeps broadcast (its projection is ~10x cheaper and the
    # paired A/B favored the avoided sorts — see the note there).
    j = pairs.repartition(n_parts, "id1").join(
        tw.select(
            F.col("doc_id").alias("id1"),
            F.col("norm").alias("n1"),
            F.col("tokens").alias("t1"),
            F.col("ws").alias("s1"),
        ).hint("merge"),
        "id1",
    ).repartition(n_parts, "id2").join(
        tw.select(
            F.col("doc_id").alias("id2"),
            F.col("norm").alias("n2"),
            F.col("tokens").alias("t2"),
            F.col("ws").alias("s2"),
        ).hint("merge"),
        "id2",
    )
    _, wjac = weighted_jaccard_cols("t1", "t2", "s1", "s2")
    j = j.withColumn(
        "f_lev",
        F.when(F.greatest(F.length("n1"), F.length("n2")) == 0, F.lit(1.0)).otherwise(
            1.0
            - F.levenshtein("n1", "n2")
            / F.greatest(F.length("n1"), F.length("n2")).cast("double")
        ),
    ).withColumn("f_wjac", wjac).withColumn(
        "score", (0.2 * F.col("f_lev") + 0.5 * F.col("f_wjac")) / F.lit(0.7)
    )
    return j.select(
        "id1",
        "id2",
        f6("f_lev").alias("f_lev"),
        f6("f_wjac").alias("f_wjac"),
        f6("score").alias("score"),
    )


def er_idf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end at-scale path: IDF-weighted scoring -> threshold 0.52 ->
    large-star/small-star CC -> cluster assignment. Together with
    er_idf_scored_pairs this makes the ENTIRE LinkageConfig.at_scale()
    pipeline (weights -> weighted jaccard -> blend -> gate -> transitive
    closure) driver-value-checked, not just the scoring stage. Thresholding
    happens on the f6-floored score on both sides, so the edge sets agree
    bit-for-bit."""
    scored = er_idf_scored_pairs(spark, sf_dir)
    edges = scored.filter(F.col("score") >= 0.52).select("id1", "id2").distinct()
    cc = connected_components(edges, max_rounds=CFG.max_cc_rounds)
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(
        cc.assignments.withColumnRenamed("rid", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").cast("bigint").alias("cluster_id")
    )


def er_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/C1: threshold gate -> accepted edges."""
    return (
        _scored_pairs(spark, sf_dir)
        .filter(F.col("score") >= ER_THRESHOLD)
        .select("id1", "id2")
    )


def er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C6: large-star/small-star transitive clusters; singletons keep
    their own id. cluster_id = min member doc_id."""
    edges = er_edges(spark, sf_dir)
    cc = connected_components(edges, max_rounds=CFG.max_cc_rounds)
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(
        cc.assignments.withColumnRenamed("rid", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").cast("bigint").alias("cluster_id")
    )


def streaming_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-visible face of the streaming incremental-CC path: the edge set
    of er_edges arrives in 3 deterministic micro-batches (xxhash64(id1,id2)
    mod 3), each folded into the accumulated state through the SAME
    IncrementalLinkage._incremental_cc foreachBatch uses (touched-component
    re-clustering, untouched components carried verbatim). The final cluster
    table must equal the one-shot batch answer, so the DuckDB twin is
    er_clusters' recursive-CTE oracle — the streaming machinery is value-
    checked, not just pytest-pinned."""
    from bela_spark.streaming.ingest import IncrementalLinkage

    # materialize the scored edge set ONCE: each micro-batch below filters a
    # slice of it, and without this cut the full blocking+scoring lineage
    # (the pipeline's dominant cost) would re-execute per batch
    edges = er_edges(spark, sf_dir).localCheckpoint()
    inc = IncrementalLinkage(state_dir="", cfg=CFG)  # state kept in-session
    old_edges = spark.createDataFrame([], "id1 bigint, id2 bigint")
    old_clusters = spark.createDataFrame([], "rid bigint, cluster_id bigint")
    for b in range(3):
        batch = edges.filter(
            F.pmod(F.xxhash64("id1", "id2"), F.lit(3)) == b
        ).localCheckpoint()
        assignments = inc._incremental_cc(batch, old_edges, old_clusters)
        old_edges = old_edges.unionByName(batch).distinct().localCheckpoint()
        old_clusters = assignments.select(
            "rid", F.col("component").alias("cluster_id")
        ).localCheckpoint()
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(
        old_clusters.withColumnRenamed("rid", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").cast("bigint").alias("cluster_id")
    )


def er_flagship_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 10 largest duplicate-content entities with stats."""
    clusters = er_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    j = clusters.join(docs, "doc_id")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_files"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("example_doc"),
        )
        .orderBy(F.desc("n_files"), F.asc("cluster_id"))
        .limit(10)
    )


def er_threshold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: edges per threshold from one scored-pairs pass."""
    scored = _scored_pairs(spark, sf_dir).select("score")
    grid = spark.createDataFrame([(t,) for t in (0.5, 0.6, 0.7, 0.8)], "threshold double")
    return (
        scored.crossJoin(F.broadcast(grid))
        .filter(F.col("score") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count("*").alias("n_edges"))
    )


def er_threshold_grid_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 full parity (grid_search_thresholds.py:23-36): the reference sweeps
    the PRODUCT of two thresholds (md x el) over one cached scored pass; here
    the two gate axes are the two pair features (lev x jaccard). One scan,
    broadcast axes, no recompute per cell."""
    scored = _scored_pairs(spark, sf_dir).select("f_lev", "f_jac")
    axis = [(t,) for t in (0.0, 0.2, 0.4)]
    # coalesce(1) on the literal axes: createDataFrame spreads 3 rows over
    # defaultParallelism partitions, and the axis CartesianProduct then
    # schedules left*right TASKS (32x32 = 1024 near-empty tasks measured as
    # ~9s of pure scheduling, r6) to produce 9 rows
    t_md = spark.createDataFrame(axis, "t_lev double").coalesce(1)
    t_el = spark.createDataFrame(axis, "t_jac double").coalesce(1)
    grid = F.broadcast(t_md.crossJoin(t_el))
    return (
        scored.crossJoin(grid)
        .filter((F.col("f_lev") >= F.col("t_lev")) & (F.col("f_jac") >= F.col("t_jac")))
        .groupBy("t_lev", "t_jac")
        .agg(F.count("*").alias("n_edges"))
    )


def er_threshold_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 argmax (grid_search_thresholds.py:30-36: the reference SELECTS the
    best cell, sorting the grid by F1 descending — the grid counts alone are
    not the operator). Gold labels: a candidate pair is positive iff both
    docs share (lang, source) — the documents table's entity key. One scored
    pass, broadcast 3x3 gate grid, per-cell tp/fp/fn via conditional
    aggregation, argmax row by (f1 DESC, t_lev ASC, t_jac ASC)."""
    scored = _scored_pairs(spark, sf_dir).select("id1", "id2", "f_lev", "f_jac")
    ent = _docs(spark, sf_dir).select(
        "doc_id", F.concat_ws("_", "lang", "source").alias("ent")
    )
    labeled = (
        scored.join(ent.select(F.col("doc_id").alias("id1"), F.col("ent").alias("e1")), "id1")
        .join(ent.select(F.col("doc_id").alias("id2"), F.col("ent").alias("e2")), "id2")
        .withColumn("label", (F.col("e1") == F.col("e2")).cast("int"))
    )
    axis = [(t,) for t in (0.0, 0.2, 0.4)]
    # coalesce(1): see er_threshold_grid_2d — the axis CartesianProduct
    # otherwise schedules 32x32 near-empty tasks for its 9 rows
    grid = F.broadcast(
        spark.createDataFrame(axis, "t_lev double").coalesce(1).crossJoin(
            spark.createDataFrame(axis, "t_jac double").coalesce(1)
        )
    )
    ok = (F.col("f_lev") >= F.col("t_lev")) & (F.col("f_jac") >= F.col("t_jac"))
    cells = (
        labeled.crossJoin(grid)
        .groupBy("t_lev", "t_jac")
        .agg(
            F.sum(F.when(ok & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(ok & (F.col("label") == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~ok & (F.col("label") == 1), 1).otherwise(0)).alias("fn"),
        )
        .withColumn(
            "f1",
            F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
                2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
            ),
        )
    )
    # Argmax on the FLOORED f1 (same value the projection emits): the DuckDB
    # twin's ORDER BY f1 binds to its floored output alias, so raw-f1 ordering
    # here could pick a different cell on sub-1e-6 F1 differences.
    best = cells.orderBy(F.desc(f6("f1")), F.asc("t_lev"), F.asc("t_jac")).limit(1)
    return best.select(
        "t_lev",
        "t_jac",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        f6("f1").alias("f1"),
    )


# ---------------------------------------------------------------------------
# Dedup family extensions
# ---------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash fingerprints (JVM higher-order functions)."""
    r = _records(spark, sf_dir)
    return r.select("doc_id", simhash_fp("tokens", SIMHASH_BITS).alias("simhash"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 6), blocked on the 7 pigeonhole
    9-bit blocks of the 63-bit fingerprint, hot block keys capped at
    SIMHASH_BLOCK_CAP (lowest-ids-win; dedup_simhash_drops logs what the cap
    cut). The r2 32-bit variant's blocks were 4-5 bits => a ~7N^2/32 blocked
    join at scale."""
    fp = dedup_simhash(spark, sf_dir)
    return simhash_near_pairs(
        fp,
        max_hamming=SIMHASH_MAX_HAMMING,
        id_col="doc_id",
        bits=SIMHASH_BITS,
        block_cap=SIMHASH_BLOCK_CAP,
    ).select("id1", "id2", F.col("hamming").cast("bigint").alias("hamming"))


def dedup_simhash_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Never-silent-truncation log for the simhash block cap, at BOTH the
    served cap (what dedup_simhash_pairs actually drops) and a small audit
    cap (so the mechanism emits fixture-visible rows); the `cap` column says
    which regime each row audits."""
    from bela_spark.operators.dedup import _simhash_block_keys
    from bela_spark.operators.pairs import key_drop_log

    fp = dedup_simhash(spark, sf_dir)
    halves = _simhash_block_keys(fp, SIMHASH_MAX_HAMMING, "doc_id", SIMHASH_BITS)
    # ONE counts pass (fingerprints + 7-way block explode + groupBy) serves
    # both cap regimes; the two filter branches share the aggregate exchange
    return key_drop_log(halves, (SIMHASH_BLOCK_CAP, SIMHASH_DROPS_CAP), key_col="hkey")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard >= 0.4 over LSH candidates — computed INSIDE the
    capped blocking-key self-join (the fused_block_and_score shape): the
    distinct shingle array rides with the key rows into the join, Jaccard is
    a projection in the same stage, and the cheap threshold filter runs
    before the pair dedup, so no pair-sized shingle payload ever crosses a
    shuffle boundary. (The r4 form re-joined each side of the generated pairs
    to its shingles — the exact pair-sized feature-array shuffle eliminated
    everywhere else — and regressed the driver bench 1.64x, VERDICT r4 #1.)
    The pair set, cap and Jaccard values are identical to the r4 form, so the
    oracle is unchanged."""
    from bela_spark.operators.pairs import candidate_pairs_with_drops

    keys = _all_keys(spark, sf_dir)
    sh = _shingled(spark, sf_dir).select(
        "doc_id", F.array_distinct("shingles").alias("sh")
    )
    pairs, _ = candidate_pairs_with_drops(
        keys, CFG, id_col="doc_id", persist=False, features=sh
    )
    out = (
        pairs.withColumn(
            "jaccard",
            F.when(F.size(F.array_union("sh1", "sh2")) == 0, F.lit(1.0)).otherwise(
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
        .select("id1", "id2", f6("jaccard").alias("jaccard"))
        .distinct()
    )
    return out


# LSH blocking configuration shared verbatim with the DuckDB oracles (the
# plane constants are emitted as SQL literals by oracles._lsh_keys_sql).
from bela_spark.oracles import (
    ANN_IVF,
    ANN_LSH,
    NEARDUP_LSH,
    SIMHASH_BITS,
    SIMHASH_BLOCK_CAP,
    SIMHASH_DROPS_CAP,
    SIMHASH_MAX_HAMMING,
)


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups, LSH-blocked (no all-pairs product anywhere:
    candidates come from capped hyperplane buckets, exact cosine verifies).
    The oracle replays the identical plane constants and bucket cap.

    Unlike ann_lsh_topk (whose cap is index-side only — a query must never
    lose its own candidates), pair GENERATION caps both sides symmetrically:
    an id evicted from an over-full bucket is evicted from that bucket's
    pair space entirely, which is the deterministic bounded-fan-out contract
    of pairs.cap_keys; ann_lsh_bucket_drops logs the truncation."""
    from bela_spark.operators.dedup import embedding_near_dup_pairs

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    keys = lsh_bucket_keys(e, id_col="vec_id", **NEARDUP_LSH)
    out = embedding_near_dup_pairs(
        e, min_cosine=0.5, id_col="vec_id", block_keys=keys
    )
    return out.select("id1", "id2", f6("cosine").alias("cosine"))


# ---------------------------------------------------------------------------
# ANN / retrieval family (J1/J2, A3/A4)
# ---------------------------------------------------------------------------

def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force inner-product top-5 (exact baseline)."""
    e = _emb(spark, sf_dir)
    out = brute_force_topk(e, e, k=5)
    return out.select(
        "vec_id",
        "neighbor_id",
        f6(F.col("ip_score")).alias("ip_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{1,10,100}: same-label neighbor retrieved within k — the
    reference's evaluation ks (joint_el_task.py:467), not fixture-scaled
    ones, so the at-scale k=100 shape is exercised."""
    e = _emb(spark, sf_dir)
    topk = brute_force_topk(e, e, k=100)
    out = recall_at_k(topk, e.select("vec_id", "label"), ks=(1, 10, 100))
    return out.select(
        f6("recall_at_1").alias("recall_at_1"),
        f6("recall_at_10").alias("recall_at_10"),
        f6("recall_at_100").alias("recall_at_100"),
        F.col("n_queries").cast("bigint").alias("n_queries"),
    )


def ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR + mean rank of first same-label neighbor in top-10."""
    e = _emb(spark, sf_dir)
    topk = brute_force_topk(e, e, k=10)
    out = mrr(topk, e.select("vec_id", "label"))
    return out.select(
        f6("mrr").alias("mrr"),
        f6("mean_rank").alias("mean_rank"),
        F.col("n_queries").cast("bigint").alias("n_queries"),
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate LSH-bucketed top-5 — the scale path (capped buckets, no
    full-catalog product). Oracle-checked: the DuckDB twin replays the md5
    hyperplanes as literal arrays and the deterministic bucket cap."""
    e = _emb(spark, sf_dir)
    out = lsh_topk(e, k=5, **ANN_LSH)
    return out.select(
        "vec_id", "neighbor_id", f6("ip_score").alias("ip_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the LSH top-5 edge set vs the brute-force anchor — keeps the
    approximate path honest (one row: n_exact, n_hit, recall)."""
    e = _emb(spark, sf_dir)
    approx = lsh_topk(e, k=5, **ANN_LSH)
    exact = brute_force_topk(e, e, k=5)
    out = lsh_recall_vs_brute(approx, exact)
    return out.select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        f6("recall").alias("recall"),
    )


# ---------------------------------------------------------------------------
# EL query surface (T13, W3, J5/J6, A1/A2)
# ---------------------------------------------------------------------------

def el_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: sliding character windows, size 100, overlap 50."""
    return el_ops.document_windows(_docs(spark, sf_dir), 100, 50).select(
        "doc_id", F.col("win_start").cast("bigint").alias("win_start"), "win_text"
    )


def _synth_spans(spark, sf_dir) -> DataFrame:
    """Deterministic overlapping spans per doc: offsets 1,4,7,... length
    3+(offset%4), score ((doc_id*7+offset)%100)/100."""
    d = _docs(spark, sf_dir).select("doc_id", F.length("text").alias("n"))
    s = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("n") - 5, F.lit(1)), F.lit(3))).alias(
            "offset"
        ),
    )
    return s.select(
        "doc_id",
        "offset",
        (F.lit(3) + F.col("offset") % 4).alias("length"),
        ((F.col("doc_id") * 7 + F.col("offset")) % 100 / 100.0).alias("score"),
    )


def el_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: overlapping-span merge — keep the best span per overlap run."""
    spans = _synth_spans(spark, sf_dir)
    out = el_ops.merge_overlapping_spans(spans)
    return out.select(
        "doc_id",
        F.col("offset").cast("bigint").alias("offset"),
        F.col("length").cast("bigint").alias("length"),
        f6("score").alias("score"),
    )


def _gold_pred_spans(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text", F.length("text").alias("n"))
    gold = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("n") - 5, F.lit(1)), F.lit(11))).alias("offset"),
        "text",
    ).select(
        "doc_id", "offset", F.lit(5).alias("length"), F.substring("text", F.col("offset"), 5).alias("ent_id")
    )
    pred = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("n") - 5, F.lit(1)), F.lit(13))).alias("offset"),
        "text",
    ).select(
        "doc_id", "offset", F.lit(5).alias("length"), F.substring("text", F.col("offset"), 5).alias("ent_id")
    )
    return gold, pred


def el_span_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+A1: micro P/R/F1 of pred spans vs gold spans (strong match)."""
    gold, pred = _gold_pred_spans(spark, sf_dir)
    out = el_ops.micro_prf1(el_ops.span_match(pred, gold))
    return out.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        f6("precision").alias("precision"),
        f6("recall").alias("recall"),
        f6("f1").alias("f1"),
    )


def el_boe_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: bag-of-entities micro F1 — entities = distinct tokens; pred set =
    tokens of the first half of the text."""
    d = _docs(spark, sf_dir)
    gold = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_of(normalized_sql("text")))).alias("ent_id")
    )
    pred = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                tokens_of(normalized_sql("substring(text, 1, CAST(floor(length(text) / 2) AS INT))"))
            )
        ).alias("ent_id"),
    )
    out = el_ops.bag_of_entities_f1(pred, gold)
    return out.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        f6("precision").alias("precision"),
        f6("recall").alias("recall"),
        f6("f1").alias("f1"),
    )


def ann_lsh_bucket_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Never-silent-truncation surface for the ANN scale path, audited at
    BOTH the served cap (ANN_LSH bucket_cap — what ann_lsh_topk /
    dedup_embedding_neardup actually drop; may emit zero rows at fixture
    scale, and that zero is itself the signal) and a small audit cap
    (fixture-visible rows proving the mechanism). The `cap` column says
    which regime each row audits — the r2 version logged only the audit cap,
    so the log did not describe what the served queries drop."""
    from bela_spark.operators.pairs import key_drop_log
    from bela_spark.oracles import LSH_DROPS_CAP

    e = _emb(spark, sf_dir)
    cfg = {**ANN_LSH}
    served_cap = cfg.pop("bucket_cap")
    keys = lsh_bucket_keys(e, **cfg)
    # ONE bucket-counts pass (hyperplane keys + groupBy) serves both regimes
    return key_drop_log(keys, (served_cap, LSH_DROPS_CAP), key_col="key")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (FAISS IVF search shape: coarse quantize ->
    multi-probe -> exact rerank inside probed cells). Deterministic md5
    codebook, capped cells, full DuckDB oracle."""
    from bela_spark.operators.ann import ivf_topk

    e = _emb(spark, sf_dir)
    out = ivf_topk(e, k=5, **ANN_IVF)
    return out.select(
        "vec_id", "neighbor_id", f6("ip_score").alias("ip_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the IVF top-5 edge set vs the brute-force anchor."""
    from bela_spark.operators.ann import ivf_topk

    e = _emb(spark, sf_dir)
    approx = ivf_topk(e, k=5, **ANN_IVF)
    exact = brute_force_topk(e, e, k=5)
    out = lsh_recall_vs_brute(approx, exact)
    return out.select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        f6("recall").alias("recall"),
    )


def ann_disambiguation_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (metrics_disambiguation, scripts/evaluate.py:92-106): top-1 neighbor
    label == query label, averaged over all queries."""
    e = _emb(spark, sf_dir)
    top1 = brute_force_topk(e, e, k=1)
    lab = e.select("vec_id", "label")
    j = (
        top1.join(lab, "vec_id")
        .join(
            lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "nlabel"),
            "neighbor_id",
        )
        .withColumn("hit", (F.col("label") == F.col("nlabel")).cast("int"))
    )
    return j.agg(
        f6(F.avg("hit")).alias("accuracy"), F.count("*").cast("bigint").alias("n_queries")
    )


def ann_ivf_disambiguation_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 over the SCALE path (same aggregation as ann_disambiguation_acc,
    but the top-1 neighbor comes from capped-cell IVF, not the brute-force
    crossJoin anchor — the accuracy metric a user would actually run at
    100 TB). Queries whose probed cells hold no other vector have no top-1
    row and drop out of the denominator."""
    from bela_spark.operators.ann import ivf_topk

    e = _emb(spark, sf_dir)
    top1 = ivf_topk(e, k=1, **ANN_IVF)
    lab = e.select("vec_id", "label")
    j = (
        top1.join(lab, "vec_id")
        .join(
            lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "nlabel"),
            "neighbor_id",
        )
        .withColumn("hit", (F.col("label") == F.col("nlabel")).cast("int"))
    )
    return j.agg(
        f6(F.avg("hit")).alias("accuracy"), F.count("*").cast("bigint").alias("n_queries")
    )


def ann_ivf_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 over the SCALE path: MRR + mean first-hit rank of the capped-cell
    IVF top-10 (same aggregation as ann_mrr, which stays pinned to the
    brute-force anchor — this is the ranking-quality metric a user would
    actually run at 100 TB)."""
    from bela_spark.operators.ann import ivf_topk, mrr

    e = _emb(spark, sf_dir)
    topk = ivf_topk(e, k=10, **ANN_IVF)
    out = mrr(topk, e.select("vec_id", "label"))
    return out.select(
        f6("mrr").alias("mrr"),
        f6("mean_rank").alias("mean_rank"),
        F.col("n_queries").cast("bigint").alias("n_queries"),
    )


def catalogue_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A7 (MultilangEntityCatalogue, mblink/utils/utils.py:80-136): per
    lang pick the source with the max doc count (max-count selection with a
    deterministic tie-break)."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("top_source"), F.col("n").cast("bigint").alias("n_docs"))
    )


def catalogue_multilang_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 exact semantics (MultilangEntityCatalogue.__getitem__,
    mblink/utils/utils.py:80-136): per ENTITY (source), the language with the
    max doc count wins (deterministic tie-break), and that language's
    description tokens are returned — here digested via the shared
    hash-subword kernel over the winning (lang, source) title."""
    from bela_spark.functions.subword import word_piece_ids_col

    d = _docs(spark, sf_dir).withColumn("norm", normalized("text"))
    counts = d.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.min(F.substring("norm", 1, 30)).alias("title"),
    )
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    top = counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    words = F.filter(F.split(F.col("title"), " "), lambda t: F.length(t) > 0)
    ids = F.flatten(F.transform(words, word_piece_ids_col))
    return top.select(
        F.col("source").alias("ent_id"),
        F.col("lang").alias("top_lang"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.md5(F.concat_ws(",", F.transform(ids, lambda x: x.cast("string")))).alias(
            "tokens_md5"
        ),
    )


def el_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 (prepare_mention, mblink/transforms/blink_transform.py:41-78):
    budget-split left/right context around a mention span."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    m = (F.col("doc_id") % 20 + 1).cast("int")
    left_start = F.greatest(m - 20, F.lit(1))
    return d.select(
        "doc_id",
        F.substring(F.col("text"), left_start, m - left_start).alias("context_left"),
        F.substring(F.col("text"), m, 5).alias("mention"),
        F.substring(F.col("text"), m + 5, 20).alias("context_right"),
    )


def el_topk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (prune_ctxt_mentions, joint_el_task.py:307-434): top-3 spans per doc
    above threshold 0.5, best span always kept."""
    spans = _synth_spans(spark, sf_dir)
    out = el_ops.topk_spans(spans, k=3, threshold=0.5)
    return out.select(
        "doc_id",
        F.col("offset").cast("bigint").alias("offset"),
        F.col("length").cast("bigint").alias("length"),
        f6("score").alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _e4_candidates(spark, sf_dir):
    from bela_spark.operators import spans as spans_ops

    r = _records(spark, sf_dir)
    tok = spans_ops.token_table(r)
    return r, tok, spans_ops.candidate_spans(tok)


def _e4_gold(tok, norm):
    """Deterministic gold mentions: 2-token spans at every 7th position,
    ent = the covered normalized substring (shared by every detect query)."""
    s = tok.filter((F.col("pos") % 7) == 1).select("doc_id", "pos", "char_start")
    e = tok.select("doc_id", (F.col("pos") - 1).alias("pos"), "char_end")
    return (
        s.join(e, ["doc_id", "pos"])
        .join(norm, "doc_id")
        .select(
            "doc_id",
            F.col("char_start").alias("offset"),
            (F.col("char_end") - F.col("char_start") + 1).alias("length"),
            F.substring(
                F.col("norm"),
                F.col("char_start"),
                F.col("char_end") - F.col("char_start") + 1,
            ).alias("ent_id"),
        )
    )


def _spans_as_pred(spans, norm):
    """(doc_id, offset, length) spans -> pred rows with ent = covered text."""
    return spans.join(norm, "doc_id").select(
        "doc_id",
        "offset",
        "length",
        F.substring(F.col("norm"), F.col("offset"), F.col("length")).alias("ent_id"),
    )


def _prf1_out(matched_agg):
    """Cast/floor discipline for a micro_prf1 one-row output."""
    return matched_agg.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        f6("precision").alias("precision"),
        f6("recall").alias("recall"),
        f6("f1").alias("f1"),
    )


def el_candidate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+P5+W1 (MentionScoresHead, joint_el_task.py:168-305): score every
    valid (start,end) token span via decomposed hash logits + prefix sums, and
    keep the top-5 per document (total tie-break). Real candidate spans over
    the real token stream — no synthetic arithmetic spans."""
    from bela_spark.operators import spans as spans_ops

    _, _, cand = _e4_candidates(spark, sf_dir)
    out = spans_ops.pruned_spans(cand, k=5)
    return out.select(
        "doc_id",
        F.col("start_pos").cast("bigint").alias("start_pos"),
        F.col("end_pos").cast("bigint").alias("end_pos"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("offset").cast("bigint").alias("offset"),
        F.col("length").cast("bigint").alias("length"),
        F.col("score").cast("bigint").alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def el_detect_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mention detection: E4 candidates -> W1 prune (top-20) ->
    W3 interval merge -> strong span match vs deterministic gold (2-token
    spans every 7 positions) -> A1 micro P/R/F1. The whole reference eval
    chain (joint_el_task.py:168-434 + model_eval.py:318-356) on REAL spans."""
    from bela_spark.operators import spans as spans_ops

    r, tok, cand = _e4_candidates(spark, sf_dir)
    norm = r.select("doc_id", "norm")
    merged = el_ops.merge_overlapping_spans(spans_ops.pruned_spans(cand, k=20))
    pred = _spans_as_pred(merged, norm)
    out = el_ops.micro_prf1(el_ops.span_match(pred, _e4_gold(tok, norm)))
    return _prf1_out(out)


WIN_TOKENS = 24   # reference: 254 SP tokens; scaled to the fixture docs
WIN_STEP = 12     # overlap = half, like the reference's 127


def el_windowed_detect_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship windowed-inference composition
    (get_predictions_using_windows + merge_predictions,
    bela/utils/prediction_utils.py:135-172 + :75-132): candidate spans are
    detected PER token window (overlapping, half-step), top-5 pruned within
    each window, regrouped per document, merged across window boundaries,
    then scored against gold — T13+E4+W1+W4+W3+A1 in one DAG. A span belongs
    to window w iff it fits entirely inside (w*step, w*step+size]."""
    r, tok, cand = _e4_candidates(spark, sf_dir)
    norm = r.select("doc_id", "norm")
    w_lo = F.greatest(F.ceil((F.col("end_pos") - WIN_TOKENS) / WIN_STEP), F.lit(0))
    w_hi = F.floor((F.col("start_pos") - 1) / WIN_STEP)
    windowed = cand.withColumn(
        "win", F.explode(F.sequence(w_lo.cast("int"), w_hi.cast("int")))
    )
    rank_w = W.partitionBy("doc_id", "win").orderBy(
        F.desc("score"), F.asc("offset"), F.asc("length")
    )
    pruned = (
        windowed.withColumn("_rk", F.row_number().over(rank_w))
        .filter(F.col("_rk") <= 5)
        .select("doc_id", "offset", "length", "score")
        .distinct()  # W4 regroup: the same span surviving in two windows is one prediction
    )
    merged = el_ops.merge_overlapping_spans(pruned)
    pred = _spans_as_pred(merged, norm)
    out = el_ops.micro_prf1(el_ops.span_match(pred, _e4_gold(tok, norm)))
    return _prf1_out(out)


def el_detect_thresholded_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold ORDER semantics (SURVEY §7 hard part 4): the reference
    gates by md score BEFORE the overlap merge (model_eval.py:196-204) and by
    el score AFTER it (compute_scores, model_eval.py:325-335) — the order
    changes F1 because the merge winner depends on which spans survive the
    first gate. md gate: span score >= 2500 (between the noise floor ~1000
    and the planted-signal level ~4000); el gate: an independent hash score
    >= 500."""
    r, tok, cand = _e4_candidates(spark, sf_dir)
    norm = r.select("doc_id", "norm")
    el_score = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("el"),
                        F.col("doc_id").cast("string"),
                        F.col("start_pos").cast("string"),
                        F.col("end_pos").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    gated_md = cand.filter(F.col("score") >= 2500)
    merged = el_ops.merge_overlapping_spans(gated_md)
    gated_el = merged.withColumn("el_score", el_score).filter(F.col("el_score") >= 500)
    pred = _spans_as_pred(gated_el, norm)
    out = el_ops.micro_prf1(el_ops.span_match(pred, _e4_gold(tok, norm)))
    return _prf1_out(out)


def el_span_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+E2 (SpanEncoder + mention_mlp, joint_el_task.py:129-165): the top-5
    candidate spans encoded by concatenating start/end token embeddings and
    projecting. One-hot hash embeddings collapse the projection to two
    integer lookups into the literal weight matrix — no UDF, integer-exact,
    oracle-replayed."""
    from bela_spark.operators import spans as spans_ops

    _, tok, cand = _e4_candidates(spark, sf_dir)
    top = spans_ops.pruned_spans(cand, k=5).select("doc_id", "start_pos", "end_pos")
    out = spans_ops.span_encodings(top, tok)
    return out.select(
        "doc_id",
        F.col("start_pos").cast("bigint").alias("start_pos"),
        F.col("end_pos").cast("bigint").alias("end_pos"),
        F.col("proj_l1").cast("bigint").alias("proj_l1"),
        "proj_md5",
    )


def el_mention_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 full parity (prepare_mention, blink_transform.py:41-78): subword
    mention context with [START]/[END] markers and the token-budget split
    (quota rebalancing included) — replaces the char-substring simplification
    of el_context_windows."""
    from bela_spark.functions.subword import prepare_mention_arrays, word_piece_ids_col, word_piece_counts

    words = _word_table(spark, sf_dir)
    per_doc = (
        words.select("doc_id", "pos", word_piece_ids_col(F.col("token")).alias("pids"))
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pids"))),
                    lambda s: s["pids"],
                )
            ).alias("ids")
        )
    )
    m = word_piece_counts(words)
    s = m.filter((F.col("pos") % 5) == 1).select("doc_id", "pos", "sp_start")
    e = m.select("doc_id", (F.col("pos") - 1).alias("pos"), "sp_end")
    j = s.join(e, ["doc_id", "pos"]).join(per_doc, "doc_id")
    n = F.size("ids")
    left = F.slice("ids", 1, F.col("sp_start") - 1)
    mention = F.slice("ids", F.col("sp_start"), F.col("sp_end") - F.col("sp_start"))
    right = F.slice("ids", F.col("sp_end"), F.greatest(n - F.col("sp_end") + 1, F.lit(0)))
    ctx = prepare_mention_arrays(left, mention, right)
    j = j.withColumn("_ctx", ctx)
    return j.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("word_pos"),
        F.size("_ctx").cast("bigint").alias("n_context"),
        F.md5(F.concat_ws(",", F.transform("_ctx", lambda x: x.cast("string")))).alias(
            "ctx_md5"
        ),
    )


def er_exact_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (in-batch dedup + remap, joint_el_task.py batch dedup analogue):
    every doc mapped to its exact-content keeper (min doc_id per sha)."""
    # groupBy min + join back, not a window min: an exact-dup group can be
    # arbitrarily large and a whole-group window buffers it in one task.
    # sha is null-coalesced ("\0" can't collide with hex): a null-text doc
    # must keep its row — an equi-join drops null keys where a window kept
    # the null partition (DuckDB's window groups nulls together too).
    d = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.sha2("text", 256), F.lit("\0")).alias("sha")
    )
    keepers = d.groupBy("sha").agg(F.min("doc_id").alias("keeper"))
    out = d.join(keepers.hint("shuffle_hash"), "sha")
    return out.select(
        "doc_id",
        "keeper",
        (F.col("doc_id") == F.col("keeper")).cast("bigint").alias("is_rep"),
    )


def er_cluster_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 metrics surface: cluster-size histogram of the final assignment
    (the lineage/metrics rollup a predictions sink would log)."""
    clusters = er_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters")
    ).select(F.col("cluster_size").cast("bigint").alias("cluster_size"), "n_clusters")


def catalogue_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (entity-type predicate): keep catalogue entities of selected types
    (type = the lang facet of the entity id)."""
    from bela_spark.operators.catalogue import entity_catalogue

    d = _docs(spark, sf_dir).withColumn("norm", normalized("text"))
    cat = entity_catalogue(d)
    return cat.filter(F.substring("ent_id", 1, 3).isin("en_", "de_")).select(
        "ent_id", "ent_index", F.col("n_docs").cast("bigint").alias("n_docs")
    )


def el_window_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (group_predictions_by_example, bela/utils/prediction_utils.py:47-72):
    regroup exploded windows per document in offset order."""
    wins = el_ops.document_windows(_docs(spark, sf_dir), 100, 50)
    grouped = wins.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("win_start", "win_text"))),
                    lambda s: s["win_text"],
                ),
            )
        ).alias("windows_md5"),
    )
    return grouped.select("doc_id", F.col("n_windows").cast("bigint").alias("n_windows"), "windows_md5")


def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (the batch face of the streaming windowed
    agg in streaming/windows.py — same code path): hourly counts + value sums
    per event type."""
    from bela_spark.streaming.windows import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        f6("total_value").alias("total_value"),
    )


def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan/agg breadth on the events table (S-family)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        f6(F.avg("value")).alias("avg_value"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.token_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
        f6("avg_token_len").alias("avg_token_len"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.quality_scores(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        f6("distinct_ratio").alias("distinct_ratio"),
        f6("stopword_ratio").alias("stopword_ratio"),
        f6("alnum_ratio").alias("alnum_ratio"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.langid(_docs(spark, sf_dir))
    return out.select("doc_id", "pred_lang", F.col("votes").cast("bigint").alias("votes"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprints(_docs(spark, sf_dir))


def text_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: top-3 tokens per doc by count (rank window, total tie-break)."""
    r = _records(spark, sf_dir)
    tok = r.select("doc_id", F.explode("tokens").alias("token"))
    counts = tok.groupBy("doc_id", "token").agg(F.count("*").alias("n"))
    w = W.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id", "token", F.col("n").cast("bigint").alias("n"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


SUBWORD_MAX_SEQ = 32  # small enough that truncation fires on real sf0.01 docs


def _word_table(spark, sf_dir):
    from bela_spark.operators.spans import token_table

    r = _records(spark, sf_dir)
    return token_table(r).select("doc_id", "pos", "token", "char_start", "char_end")


def text_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (SPMTransform, bela/transforms/spm_transform.py:28-65): hash-subword
    (token_id, char_start, char_end) rows with bos/eos sentinels, whitespace
    absorption, and the max_seq_len-3 piece truncation — all JVM expressions,
    oracle-replayed."""
    from bela_spark.functions.subword import subword_token_rows

    out = subword_token_rows(_word_table(spark, sf_dir), max_seq_len=SUBWORD_MAX_SEQ)
    return out.select(
        "doc_id",
        F.col("sp_pos").cast("bigint").alias("sp_pos"),
        F.col("token_id").cast("bigint").alias("token_id"),
        F.col("char_start").cast("bigint").alias("char_start"),
        F.col("char_end").cast("bigint").alias("char_end"),
    )


def el_token_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (pieces_to_texts, joint_el_transform.py:104-187): word-level
    mentions (2 words every 5 positions) remapped to subword offsets via the
    per-word (sp_start, sp_end) prefix mapping; mentions whose subword end
    crosses max_seq_len-1 are dropped (the reference's truncation break)."""
    from bela_spark.functions.subword import word_piece_counts

    m = word_piece_counts(_word_table(spark, sf_dir))
    s = m.filter((F.col("pos") % 5) == 1).select("doc_id", "pos", "sp_start")
    e = m.select("doc_id", (F.col("pos") - 1).alias("pos"), "sp_end")
    j = s.join(e, ["doc_id", "pos"]).filter(F.col("sp_end") <= SUBWORD_MAX_SEQ - 1)
    return j.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("word_pos"),
        F.col("sp_start").cast("bigint").alias("sp_offset"),
        (F.col("sp_end") - F.col("sp_start")).cast("bigint").alias("sp_length"),
    )


def _catalogue(spark, sf_dir):
    from bela_spark.operators.catalogue import entity_catalogue, tokenized_catalogue

    d = _docs(spark, sf_dir).withColumn("norm", normalized("text"))
    return tokenized_catalogue(entity_catalogue(d))


def catalogue_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (EntityCatalogue, mblink/utils/utils.py:55-77): length-prefixed
    fixed-width token rows, read back via the value[1:value[0]+1] slice. The
    sliced ids are digested (md5 of the comma-join) so the output stays
    canonicalizer-sortable."""
    t = _catalogue(spark, sf_dir)
    return t.select(
        "ent_id",
        "ent_index",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))).alias(
            "tokens_md5"
        ),
    )


def catalogue_entity_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 (_transform_entity, blink_transform.py:277-289): bos/eos wrap +
    max_entity_len truncation with eos kept last."""
    from bela_spark.operators.catalogue import truncate_entity_tokens

    t = truncate_entity_tokens(_catalogue(spark, sf_dir))
    return t.select(
        "ent_id",
        (F.size("tokens") + 2).cast("bigint").alias("n_raw"),
        F.size("entity_ids").cast("bigint").alias("n_final"),
        F.element_at("entity_ids", -1).cast("bigint").alias("last_id"),
        F.md5(
            F.concat_ws(",", F.transform("entity_ids", lambda x: x.cast("string")))
        ).alias("ids_md5"),
    )


def catalogue_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P1 (blink_datamodule.py:50-57, joint_el_datamodule.py:117-125):
    drop mentions whose entity is missing from the catalogue — broadcast LEFT
    SEMI join against the popular-entity slice (n_docs >= 3)."""
    from bela_spark.operators.catalogue import entity_catalogue, membership_semi_join

    d = _docs(spark, sf_dir).withColumn("norm", normalized("text"))
    cat = entity_catalogue(d).filter(F.col("n_docs") >= 3)
    mentions = d.select(
        "doc_id", F.concat_ws("_", "lang", "source").alias("ent_id")
    )
    return membership_semi_join(mentions, cat).select("doc_id", "ent_id")


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing / MOSS, Schleimer et
    al.): k-gram rolling hashes -> per-window minima. Any shared substring of
    length >= w+k-1 between two documents shares a selected fingerprint."""
    out = textops.winnow_fingerprints(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("fp").cast("bigint").alias("fp"),
    )


# MOSS discards fingerprints shared by too many documents before pairing
# (Schleimer et al. §5 exclude "too-common" fingerprints — license headers /
# boilerplate): a fingerprint in k docs otherwise emits C(k,2) join rows, the
# exact uncapped-hot-key failure pairs.cap_keys exists for. The threshold
# lives in oracles.py (shared with the SQL twins);
# dedup_winnow_fp_drops logs every excluded fingerprint.
from bela_spark.oracles import WINNOW_MAX_DF


def _winnow_fps_with_df(spark, sf_dir) -> DataFrame:
    """(doc_id, fp, dfreq): distinct per-doc fingerprints annotated with the
    fingerprint's document frequency (one shuffle on fp)."""
    fps = textops.winnow_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", "fp"
    ).distinct()
    # groupBy count + join back, not a count window: the over-common
    # fingerprint this df-annotation exists to catch is itself the mega group
    # a whole-fp window would buffer in one task
    dfs = fps.groupBy("fp").agg(F.count("*").alias("dfreq"))
    return fps.join(dfs.hint("shuffle_hash"), "fp")


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup candidates: document pairs sharing >= 20 winnowed
    fingerprint values — an equi-join on fp (bounded by the fingerprint
    density ~2/(w+1) per char), never an all-pairs comparison. Fingerprints
    with document frequency > WINNOW_MAX_DF are discarded first (MOSS's
    over-common-fingerprint rule), so no single fp key can emit a quadratic
    pair burst; dedup_winnow_fp_drops is the never-silent log."""
    fps = _winnow_fps_with_df(spark, sf_dir).filter(
        F.col("dfreq") <= WINNOW_MAX_DF
    )
    a = fps.select(F.col("doc_id").alias("id1"), "fp")
    b = fps.select(F.col("doc_id").alias("id2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 20)
        .select("id1", "id2", F.col("n_shared").cast("bigint").alias("n_shared"))
    )


def dedup_winnow_fp_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fingerprint dedup_winnow_pairs discards as over-common
    (dfreq > WINNOW_MAX_DF), with its document frequency and the number of
    candidate pairs the discard suppressed (C(dfreq, 2))."""
    d = (
        _winnow_fps_with_df(spark, sf_dir)
        .filter(F.col("dfreq") > WINNOW_MAX_DF)
        .groupBy("fp")
        .agg(F.max("dfreq").alias("n_docs"))
    )
    return d.select(
        F.col("fp").cast("bigint").alias("fp"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        # integer `div`, not `/`: double division loses exactness past 2^53,
        # i.e. on exactly the mega-frequency fingerprints this log is for
        F.expr("(n_docs * (n_docs - 1)) div 2").alias("n_pairs_suppressed"),
    )


def catalogue_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: dimension catalogue with a dense stable index — two-phase
    zipWithIndex-style rank (operators.catalogue.dense_index), NOT a
    global-order row_number window, which would serialize the whole
    dimension into a single WindowExec task at catalogue scale."""
    from bela_spark.operators.catalogue import dense_index

    langs = _docs(spark, sf_dir).select("lang").distinct()
    return dense_index(langs, "lang", "ent_index").select("lang", "ent_index")


# ---------------------------------------------------------------------------
# General analytics (scan/agg/join breadth on the TPC-H-ish tables)
# ---------------------------------------------------------------------------

def tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            f6(F.sum("l_quantity")).alias("sum_qty"),
            f6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        f6(F.sum("o_totalprice")).alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    # top-N via TakeOrderedAndProject (parallel partial top-20 per partition),
    # not a global-order row_number window (single-partition WindowExec)
    return agg.orderBy(F.desc("total_spend"), F.asc("c_custkey")).limit(20)


# ---------------------------------------------------------------------------
# No-oracle queries (UDF-backed; driver records rows-only checks)
# ---------------------------------------------------------------------------

def _embedded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, embedding): raw pandas-UDF text embeddings (internal — array
    columns never cross the driver canonicalizer)."""
    r = _records(spark, sf_dir)
    return r.select(
        "doc_id", embed_text(CFG.embedding_dim, CFG.seed)("norm").alias("embedding")
    )


def embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: Arrow-batched deterministic text embeddings (pandas UDF).

    Output is digest-shaped (the driver canonicalizer can't sort raw array
    columns): dim + l2 norm + an md5 over the per-bucket sign pattern. The
    sign pattern is integer-exact (each bucket is a sum of +/-1 votes), so the
    DuckDB oracle replays the md5 feature-hashing kernel bit-for-bit and this
    query is fully oracle-checked despite the pandas-UDF kernel.
    """
    from bela_spark.functions.vectors import l2_norm

    emb = _embedded_docs(spark, sf_dir)
    sign_parts = F.transform(
        "embedding",
        lambda v, i: F.concat_ws(
            ":",
            i.cast("string"),
            F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0)).cast("string"),
        ),
    )
    return emb.select(
        "doc_id",
        F.lit(CFG.embedding_dim).cast("bigint").alias("dim"),
        # round (not floor): the embedding is L2-normalized, so the norm is
        # 1.0 up to float error; round(., 6) lands exactly on the oracle's
        # analytic 1.0 / 0.0
        F.round(l2_norm("embedding"), 6).alias("l2_norm"),
        F.md5(F.concat_ws(",", sign_parts)).alias("sign_digest"),
    )


def er_scored_pairs_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E5+E8: candidate pairs scored with the cosine of pandas-UDF text
    embeddings blended with lev/jaccard (the full bi-encoder-style scorer).
    Fully oracle-checked: the UDF's bucket votes are integer-exact, so the
    normalized embedding doubles — and hence the cosine — replay in SQL."""
    from bela_spark.functions.vectors import cosine_sim

    emb = _embedded_docs(spark, sf_dir)
    pairs = er_candidate_pairs(spark, sf_dir).select("id1", "id2").distinct()
    scored = _scored_pairs(spark, sf_dir).select("id1", "id2", "f_lev", "f_jac")
    j = (
        pairs.join(scored, ["id1", "id2"])
        .join(emb.select(F.col("doc_id").alias("id1"), F.col("embedding").alias("e1")), "id1")
        .join(emb.select(F.col("doc_id").alias("id2"), F.col("embedding").alias("e2")), "id2")
        .withColumn("f_cos", cosine_sim("e1", "e2"))
        .withColumn(
            "score",
            CFG.w_lev * F.col("f_lev") + CFG.w_jac * F.col("f_jac") + CFG.w_cos * F.col("f_cos"),
        )
    )
    return j.select(
        "id1", "id2", f6("f_lev").alias("f_lev"), f6("f_jac").alias("f_jac"),
        f6("f_cos").alias("f_cos"), f6("score").alias("score"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: synth media -> mapInPandas feature extraction.

    The raw float feature vector is digested to integer columns (dim + byte
    sum) so the driver canonicalizer can sort the output AND the DuckDB
    oracle can replay the md5-derived stub kernel exactly.
    """
    media = synth_media(_docs(spark, sf_dir))
    feats = extract_features(media)
    byte_sum = F.aggregate(
        F.transform("feature", lambda v: F.round(v * 255).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "payload_sha",
        F.size("feature").cast("bigint").alias("feature_dim"),
        byte_sum.alias("feature_byte_sum"),
    )
