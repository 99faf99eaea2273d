"""Pairwise scoring (SURVEY.md E5-E8, M3): features + blended score + threshold.

Reference semantics: the EL classification head scores each candidate pair and
a fixed threshold gates links (bela/task/joint_el_task.py:52-80, 1132-1142).
Rebuild: score = w_lev*levenshtein_sim + w_jac*token_jaccard + w_cos*cosine,
thresholded. Every pair is scored inside the blocking-key self-join
(fused_block_and_score): Levenshtein and (IDF-weighted) Jaccard are JVM
built-ins under whole-stage codegen, and the optional cosine runs JVM-side
(zip_with + aggregate, oracle-exact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

# Member floor below which a hot key skips the S^2 salt grid and pairs in the
# plain equi-join (r6): a key bounded at n members emits at most C(n, 2)
# pairs in ONE task — at the default 2048 that is ~2M pair-emits, a
# fine-grained unit of work at any executor size — while the grid pays S^2
# row replication of BOTH sides for every salted key. Keys above the floor
# (only possible when mega_key_threshold exceeds it) still take the grid, so
# the skew protection is intact where a single key could actually swamp a
# task; the gate is a pure execution-strategy choice (the grid provably
# emits the identical pair set) and the key_log strategy labels, which
# depend on the config thresholds alone, do not move. Env-tunable like the
# other scale bounds (0 restores unconditional salting above
# hot_key_threshold).
SALT_MIN_KEY_MEMBERS = int(os.environ.get("BELA_SALT_MIN_KEY_MEMBERS", "2048"))

from bela_spark.config import LinkageConfig
from bela_spark.functions.strings import lev_sim
from bela_spark.functions.vectors import cosine_sim
from bela_spark.operators.idf import weighted_jaccard_packed_ix_staged


def accept_edges(scored: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """Threshold gate (P3 analogue, md/el thresholds joint_el_task.py:1132-1142)
    -> edge set for clustering (C1)."""
    return (
        scored.filter(F.col("score") >= F.lit(cfg.score_threshold))
        .select("id1", "id2")
        .distinct()
    )


def jaccard_gate(cfg: LinkageConfig, use_cosine: bool) -> float:
    """Jaccard level below which the blended score cannot reach the accept
    threshold even if every other feature is 1.0 — so the O(L^2) Levenshtein
    can be skipped EXACTLY (same edges, zero approximation). Mirrors the
    reference's cheap-gate-before-expensive-score order: md_score gates the
    EL head (bela/evaluation/model_eval.py:196-204)."""
    w_l, w_j = cfg.w_lev, cfg.w_jac
    w_c = cfg.w_cos if use_cosine else 0.0
    total = w_l + w_j + w_c
    return (cfg.score_threshold * total - w_l - w_c) / w_j


def _score_exprs(df: DataFrame, cfg: LinkageConfig, use_cosine: bool) -> DataFrame:
    """Shared scoring expressions over (n1, t1, n2, t2[, e1, e2]) columns.

    Three-stage staged scoring, cheapest first (each gate is EXACT given the
    blend weights — gated-off pairs cannot reach the accept threshold):
      1. size-ratio bound (O(1)): for DISTINCT token arrays,
         jaccard <= min(|A|,|B|)/max(|A|,|B|) — below the gate, skip all work;
      2. token jaccard (~40us on ~50-token arrays);
      3. bounded-prefix Levenshtein (~40us at 64 chars) only when jaccard
         leaves the threshold reachable.
    Junk candidate pairs from loose blocking keys cost ~5us instead of ~1ms.
    Gated-off pairs carry f_jac/f_lev = 0. Callers must pass t1/t2 as
    array_distinct token arrays (the size bound is only valid for sets).

    With cfg.idf_weighting, t1/t2 are PACKED weighted token sets
    (weight_tokens_packed: sorted array<long> of token*64+w) and s1/s2 their
    precomputed weight sums (operators/idf.py); f_jac becomes the
    IDF-weighted jaccard and the stage-1 gate uses the weight-sum ratio
    bound — same exactness argument, weights instead of cardinalities."""
    m = cfg.lev_max_chars
    gate = jaccard_gate(cfg, use_cosine)
    # Both kernels stage the intersection into its own projected column so
    # the O(|t1|+|t2|) array work runs ONCE per pair. A single CASE expression
    # references the intersection in the zero-union test, the numerator and
    # the denominator, and Catalyst does not CSE across conditional branches
    # (the weighted kernel's HOF aggregate is additionally CodegenFallback,
    # so each occurrence was a separate interpreted evaluation — the measured
    # 3x straggler in the 2M-row scaling arms). CollapseProject keeps the two
    # Projects apart because _wi is non-cheap and multiply-referenced.
    # The gated `when` without otherwise leaves _wi null for pairs pruned by
    # the size bound; those get f_jac = 0.0 exactly as before.
    if cfg.idf_weighting:
        # Round-5 three-stage split (weighted_jaccard_packed_ix_staged):
        # stage A projects the GATED intersection itself — codegen-able, so
        # it fuses into the join's WholeStageCodegen — and drops both token
        # arrays before any pair row materializes; stage B runs the
        # interpreted HOF weight-sum over the (typically tiny) intersection
        # only. The two-stage form ended the join's codegen pipeline at the
        # CodegenFallback aggregate, materializing every pair at full width
        # with array_intersect on the interpreted boxed path — measured as
        # the 1.43x 4->16-thread per-pair CPU inflation (BASELINE.md
        # "Round-5 scaling measurement").
        size_bound, ix_expr, wi_expr, jac_from_wi = (
            weighted_jaccard_packed_ix_staged("t1", "t2", "s1", "s2")
        )
        out = (
            df.withColumn("_ix", F.when(size_bound >= F.lit(gate), ix_expr))
            .drop("t1", "t2")
            .withColumn("_wi", wi_expr)
            .drop("_ix")
        )
    else:
        s1, s2 = F.size("t1"), F.size("t2")
        size_bound = F.when(
            F.greatest(s1, s2) == 0, F.lit(1.0)
        ).otherwise(F.least(s1, s2) / F.greatest(s1, s2).cast("double"))
        wi_expr = F.size(F.array_intersect("t1", "t2")).cast("long")
        # t1/t2 are distinct arrays (caller contract), so |union| =
        # |t1| + |t2| - |intersect| — no second array op, same integers
        ju = (s1 + s2).cast("long") - F.col("_wi")
        jac_from_wi = F.when(ju <= 0, F.lit(1.0)).otherwise(
            F.col("_wi") / ju.cast("double")
        )
        out = df.withColumn("_wi", F.when(size_bound >= F.lit(gate), wi_expr))
    out = out.withColumn(
        "f_jac", F.when(F.col("_wi").isNull(), F.lit(0.0)).otherwise(jac_from_wi)
    ).drop("_wi").withColumn(
        "f_lev",
        F.when(
            F.col("f_jac") >= F.lit(gate),
            lev_sim(F.substring("n1", 1, m), F.substring("n2", 1, m)),
        ).otherwise(F.lit(0.0)),
    )
    weights = {"f_lev": cfg.w_lev, "f_jac": cfg.w_jac}
    if use_cosine:
        out = out.withColumn("f_cos", cosine_sim("e1", "e2"))
        weights["f_cos"] = cfg.w_cos
    total = sum(weights.values())
    expr = sum((F.col(c) * (w / total) for c, w in weights.items()), F.lit(0.0))
    return out.withColumn("score", expr)


def fused_block_and_score(
    keys_with_features: DataFrame,
    cfg: LinkageConfig,
    id_col: str = "rid",
    use_cosine: bool = False,
    persist: bool = True,
    counts_attached: bool = False,
    max_kn: int | None = None,
    mega_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The at-scale pair stage: score INSIDE the blocking-key self-join.

    Input: (rid, key, norm, tokens[, embedding]) — features ride along with
    the key rows, so the self-join emits fully-featured pairs and the scoring
    projection runs in the SAME stage; only (id1, id2, key, features, score)
    ever crosses a stage boundary. This removes the two pair-sized feature
    joins, whose shuffle payload (norm strings x n_pairs) is what breaks
    disk-bound scaling — cf. the reference computing pair scores inside the
    retrieval batch rather than re-gathering embeddings per pair
    (bela/task/joint_el_task.py:658-712).

    A pair colliding under k blocking keys is scored k times (k <= number of
    key families + bands); that duplicate CPU is the explicit price for not
    shuffling pair-sized feature payloads — CPU scales with cores, shuffle
    disk does not.

    Key-cardinality strategy (all logged in key_log, never silent):
      n <= hot_key_threshold           plain equi-join (quadratic, exact)
      hot < n <= mega_key_threshold    salted S^2 grid join (quadratic, exact,
                                       skew shattered across S^2 tasks) — but
                                       only for keys above SALT_MIN_KEY_MEMBERS;
                                       smaller "hot" keys are bounded enough
                                       for one plain-join task and skip the
                                       grid's S^2 row replication (identical
                                       pair set; labels unchanged)
      n > mega_key_threshold           sorted-neighborhood chaining: each
                                       member pairs with its next chain_window
                                       neighbors (linear). An uninformative
                                       mega key must not emit O(n^2) junk;
                                       true mega dup-groups stay connected
                                       through the chain and CC closes them.

    Tier planning: `max_kn` is the largest `_kn` of the input when the
    caller measured it (run_linkage's counts gate does, in the same
    aggregate that sizes its broadcast). A tier whose lower bound is at or
    above it cannot hold a row, so it is neither built nor planned nor run —
    in particular the chained tier's range-boundary jobs go. `mega_rows`,
    the chained tier's row total (sum of `_kn` over keys above
    mega_key_threshold), spares ranked_in_key its count job. With
    max_kn=None every tier is built, as every caller without the
    measurement needs; the rows are identical either way.

    Returns (scored_by_key, key_log). key_log: (key, n_ids, strategy) for
    every salted or chained key. Dedup to unique pairs happens after the
    cheap threshold filter (accept_edges) or via dedup_scored().
    """
    from bela_spark.operators.pairs import keyed_with_counts, ranked_in_key

    feat_cols = (
        ["norm", "tokens"]
        + (["ws"] if cfg.idf_weighting else [])
        + (["embedding"] if use_cosine else [])
    )
    # cardinality via groupBy + shuffle-hash join (keyed_with_counts): the old
    # count-window buffered each key's whole membership in one task — the
    # 10^8-member near-dup family would be a single-task straggler. The join
    # has two branches over the input (counts + probe), so callers whose
    # key-gen DAG is expensive should cut or persist the input themselves
    # and free it when the run is done (run_linkage cuts it with
    # localCheckpoint, LinkageRun.keys_features, freed by
    # LinkageRun.release) — an unconditional persist here would be an
    # unreleasable second cache of the pair stage for the life of the
    # session.
    #
    # counts_attached=True: the caller already carries `_kn` on the input
    # (run_linkage r6: counts are aggregated over the SLIM (rid, key) frame
    # BEFORE the feature join — the key-gen/feature join is 1:1 per rid, so
    # the per-key cardinalities are identical — and the joined frame is the
    # caller's ONE materialized frame). Skips both the wide-row counts join
    # and the duplicate internal persist that double-cached the pair-stage
    # input.
    if counts_attached:
        keyed = keys_with_features
    else:
        keyed = keyed_with_counts(keys_with_features)
        if persist:
            keyed = keyed.persist()

    key_log = (
        keyed.filter(F.col("_kn") > cfg.hot_key_threshold)
        .groupBy("key")
        .agg(F.max("_kn").alias("n_ids"))
        .select(
            "key",
            "n_ids",
            F.when(F.col("n_ids") > cfg.mega_key_threshold, F.lit("chained"))
            .otherwise(F.lit("salted"))
            .alias("strategy"),
        )
    )

    short = {"norm": "n", "tokens": "t", "ws": "s", "embedding": "e"}

    def side(df, n, extra=()):
        cols = [F.col(id_col).alias(f"id{n}")] + [
            F.col(c).alias(f"{short[c]}{n}") for c in feat_cols
        ]
        return df.select("key", *cols, *extra)

    # Pair-emitting joins are CPU-dense, not byte-dense: a ~50 MB salted-grid
    # cell expands into millions of scored pairs, so AQE's byte-based
    # partition coalescing (advisoryPartitionSizeInBytes) merges them into a
    # handful of straggler tasks — measured at 2M rows: 75% of the pair-stage
    # CPU in 4 of 20 tasks (68-84s each vs a 12s median), a floor no core
    # count fixes. A user repartition on the exact join keys pins the join's
    # partitioning (AQE never coalesces REPARTITION_BY_NUM stages, and the
    # other join side must align), so the quadratic work spreads over the
    # full shuffle-partition count regardless of how few bytes carry it.
    # Spark reuses the repartition exchange for the join — same shuffle
    # count as before, only the coalescing behavior changes.
    n_pair_parts = int(
        keys_with_features.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )

    # _kn = 1 keys (the vast majority under selective blocking) cannot emit a
    # pair — drop them before the join so they never shuffle.
    # salt_floor: keys at or below it pair in the plain equi-join even when
    # the config labels them hot (see SALT_MIN_KEY_MEMBERS — with the default
    # thresholds mega < floor, so the grid tier vanishes from the plan
    # entirely and its S^2 replication with it)
    salt_floor = max(cfg.hot_key_threshold, SALT_MIN_KEY_MEMBERS)
    cold_hi = min(salt_floor, cfg.mega_key_threshold)
    cold = keyed.filter((F.col("_kn") >= 2) & (F.col("_kn") <= cold_hi))

    def can_hold(lower: int) -> bool:
        """Whether a tier of keys with _kn > lower can hold a row."""
        return max_kn is None or max_kn > lower

    salt_tier_live = salt_floor < cfg.mega_key_threshold and can_hold(salt_floor)
    mega_tier_live = can_hold(cfg.mega_key_threshold)

    # the tier self-joins carry row-proportional sides: hint("merge") pins
    # the sort-merge shape the scaling work measured (SCALING.json) AND
    # stops AQE from broadcast-converting a side whose COMPRESSED shuffle
    # bytes under-read its true size (~20x on templated content — the
    # 16M-row maxResultSize failure mode; see pipeline.run_linkage)
    cold_pairs = (
        side(cold, 1)
        .repartition(n_pair_parts, "key")
        .join(side(cold, 2).hint("merge"), "key")
        .filter(F.col("id1") < F.col("id2"))
    )

    if salt_tier_live:
        hot = keyed.filter(
            (F.col("_kn") > salt_floor) & (F.col("_kn") <= cfg.mega_key_threshold)
        )
        s = cfg.salt_buckets
        salted = hot.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(s)))
        left = salted.withColumn(
            "_s2", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        ).withColumnRenamed("_salt", "_s1")
        right = salted.withColumn(
            "_s1", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        ).withColumnRenamed("_salt", "_s2")
        hot_pairs = (
            side(left, 1, extra=("_s1", "_s2"))
            .repartition(n_pair_parts, "key", "_s1", "_s2")
            .join(
                side(right, 2, extra=("_s1", "_s2")).hint("merge"),
                ["key", "_s1", "_s2"],
            )
            .filter(F.col("id1") < F.col("id2"))
            .drop("_s1", "_s2")
        )

    # chaining (sorted-neighborhood, Hernandez-Stolfo): member at chain rank
    # r pairs with ranks r+1..r+w. The chain is ordered by CONTENT (norm,
    # then id for determinism), NOT by random id: similar records must be
    # window-adjacent, or a small group buried among unrelated members of a
    # mega key can sit > w apart in a random order and never meet itself
    # (tests/test_fused_scoring.py::test_chain_content_order_finds_groups
    # pins the property; test_pipeline_f1 pins clusters-no-worse-than-full-
    # pairing end to end). The rank is computed by ranked_in_key's two-phase
    # range-partitioned scheme — NOT a window over `key`, which would sort a
    # 10^8-member mega key inside one task (r3 verdict, scale-watch item);
    # tests/test_fused_scoring.py pins rank-equality with the window form.
    w = cfg.chain_window
    if w < 1:
        # F.sequence(_cn+1, _cn+0) would default to step -1 and emit a
        # self-pair per member — chaining cannot be "off", only bounded
        raise ValueError(f"chain_window must be >= 1, got {w}")
    if mega_tier_live:
        mega = ranked_in_key(
            keyed.filter(F.col("_kn") > cfg.mega_key_threshold),
            ("norm", id_col),
            key_col="key",
            rank_col="_cn",
            total=mega_rows,
        )
        chain_left = mega.withColumn(
            "_cn2", F.explode(F.sequence(F.col("_cn") + 1, F.col("_cn") + w))
        )
        mega_pairs = (
            side(chain_left, 1, extra=("_cn2",))
            .repartition(n_pair_parts, "key", "_cn2")
            .join(
                side(mega.withColumnRenamed("_cn", "_cn2"), 2, extra=("_cn2",)).hint(
                    "merge"
                ),
                ["key", "_cn2"],
            )
            .drop("_cn2")
        )

    pair_feat = cold_pairs
    if salt_tier_live:
        pair_feat = pair_feat.unionByName(hot_pairs)
    if mega_tier_live:
        pair_feat = pair_feat.unionByName(mega_pairs)
    scored = _score_exprs(pair_feat, cfg, use_cosine)
    # content-ordered chaining no longer guarantees id1 < id2 — canonicalize
    # inside the final projection (every feature is symmetric in the two
    # sides, so only ids swap)
    keep = ["key", "f_lev", "f_jac", "score"] + (["f_cos"] if use_cosine else [])
    return (
        scored.select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
            *keep,
        ),
        key_log,
    )


def dedup_scored(scored_by_key: DataFrame) -> DataFrame:
    """Unique (id1, id2) scored pairs from the per-key scored table. Scores of
    the same pair are identical across keys (pure function of the records), so
    max() is just a deterministic pick."""
    feature_cols = [c for c in scored_by_key.columns if c not in ("id1", "id2", "key")]
    return scored_by_key.groupBy("id1", "id2").agg(
        *[F.max(c).alias(c) for c in feature_cols]
    )
