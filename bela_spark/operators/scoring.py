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

from pyspark.sql import DataFrame, functions as F

from bela_spark.config import LinkageConfig
from bela_spark.functions.strings import lev_sim_sql
from bela_spark.functions.vectors import cosine_sim
from bela_spark.operators.idf import weighted_jaccard_packed_ix_staged_sql


def accept_edges(scored: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """Threshold gate (P3 analogue, md/el thresholds joint_el_task.py:1132-1142)
    -> edge set for clustering (C1)."""
    return (
        scored.filter(f"score >= {cfg.score_threshold!r}D")
        .selectExpr("id1", "id2")
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
    # SQL text throughout (see functions/hashing.py); doubles carry the D
    # suffix, since a bare 1.0 is a DECIMAL in Spark SQL
    gate = f"{jaccard_gate(cfg, use_cosine)!r}D"
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
            weighted_jaccard_packed_ix_staged_sql("t1", "t2", "s1", "s2")
        )
        out = (
            df.withColumn("_ix", F.expr(f"CASE WHEN {size_bound} >= {gate} THEN {ix_expr} END"))
            .drop("t1", "t2")
            .withColumn("_wi", F.expr(wi_expr))
            .drop("_ix")
        )
    else:
        s1, s2 = "size(t1)", "size(t2)"
        size_bound = (
            f"CASE WHEN greatest({s1}, {s2}) = 0 THEN 1.0D "
            f"ELSE least({s1}, {s2}) / CAST(greatest({s1}, {s2}) AS DOUBLE) END"
        )
        wi_expr = "CAST(size(array_intersect(t1, t2)) AS BIGINT)"
        # t1/t2 are distinct arrays (caller contract), so |union| =
        # |t1| + |t2| - |intersect| — no second array op, same integers
        ju = f"CAST({s1} + {s2} AS BIGINT) - _wi"
        jac_from_wi = f"CASE WHEN {ju} <= 0 THEN 1.0D ELSE _wi / CAST({ju} AS DOUBLE) END"
        out = df.withColumn("_wi", F.expr(f"CASE WHEN {size_bound} >= {gate} THEN {wi_expr} END"))
    lev = lev_sim_sql(f"substring(n1, 1, {m})", f"substring(n2, 1, {m})")
    out = (
        out.withColumn("f_jac", F.expr(f"CASE WHEN _wi IS NULL THEN 0.0D ELSE {jac_from_wi} END"))
        .drop("_wi")
        .withColumn("f_lev", F.expr(f"CASE WHEN f_jac >= {gate} THEN {lev} ELSE 0.0D END"))
    )
    weights = {"f_lev": cfg.w_lev, "f_jac": cfg.w_jac}
    if use_cosine:
        out = out.withColumn("f_cos", cosine_sim("e1", "e2"))
        weights["f_cos"] = cfg.w_cos
    total = sum(weights.values())
    score = " + ".join(["0.0D"] + [f"{c} * {w / total!r}D" for c, w in weights.items()])
    return out.withColumn("score", F.expr(score))


def fused_block_and_score(
    keyed: DataFrame,
    cfg: LinkageConfig,
    id_col: str = "rid",
    use_cosine: bool = False,
    max_kn: int | None = None,
    mega_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The at-scale pair stage: score INSIDE the blocking-key self-join.

    Input: (rid, key, _kn, norm, tokens[, ws][, embedding]) — `_kn` is the
    key's cardinality, attached by the caller (pairs.keyed_with_counts, or
    run_linkage's counts gate); features ride along with the key rows, so
    the self-join emits fully-featured pairs and the scoring projection runs
    in the SAME stage; only (id1, id2, key, features, score) ever crosses a
    stage boundary. This removes the two pair-sized feature joins, whose
    shuffle payload (norm strings x n_pairs) is what breaks disk-bound
    scaling — cf. the reference computing pair scores inside the retrieval
    batch rather than re-gathering embeddings per pair
    (bela/task/joint_el_task.py:658-712). The input is read by every tier
    branch and the key log, so a caller whose input DAG is expensive should
    cut or persist it (run_linkage cuts it with localCheckpoint).

    A pair colliding under k blocking keys is scored k times (k <= number of
    key families + bands); that duplicate CPU is the explicit price for not
    shuffling pair-sized feature payloads — CPU scales with cores, shuffle
    disk does not.

    Key-cardinality strategy:
      2 <= n <= mega_key_threshold     plain equi-join (quadratic, exact; a
                                       key bounded at n members emits at most
                                       C(n, 2) pairs in one task)
      n > mega_key_threshold           sorted-neighborhood chaining: each
                                       member pairs with its next chain_window
                                       neighbors (linear). An uninformative
                                       mega key must not emit O(n^2) junk;
                                       true mega dup-groups stay connected
                                       through the chain and CC closes them.

    Tier planning: `max_kn` is the largest `_kn` of the input when the
    caller measured it (run_linkage's counts gate, ingest's pair-stage cut
    and er_chained_pairs observe it on a cut they take anyway, see
    session.observed_cut). When no key is above
    mega_key_threshold the chained tier is neither built nor planned nor
    run — its range-boundary jobs go with it. `mega_rows`, the chained
    tier's row total (sum of `_kn` over keys above mega_key_threshold),
    spares ranked_in_key its count job. With max_kn=None both tiers are
    built; the rows are identical either way.

    Returns (scored_by_key, key_log). key_log: (key, n_ids, strategy) for
    every key above hot_key_threshold, strategy being the tier that paired
    it ("plain" or "chained") — never silent. Dedup to unique pairs happens
    after the cheap threshold filter (accept_edges) or via dedup_scored().
    """
    from bela_spark.operators.pairs import ranked_in_key

    feat_cols = (
        ["norm", "tokens"]
        + (["ws"] if cfg.idf_weighting else [])
        + (["embedding"] if use_cosine else [])
    )

    key_log = (
        keyed.filter(f"_kn > {cfg.hot_key_threshold}")
        .groupBy("key")
        .agg(F.expr("max(_kn) AS n_ids"))
        .selectExpr(
            "key",
            "n_ids",
            f"CASE WHEN n_ids > {cfg.mega_key_threshold} THEN 'chained' ELSE 'plain' END AS strategy",
        )
    )

    short = {"norm": "n", "tokens": "t", "ws": "s", "embedding": "e"}

    def side(df, n, extra=()):
        cols = [f"{id_col} AS id{n}"] + [f"{c} AS {short[c]}{n}" for c in feat_cols]
        return df.selectExpr("key", *cols, *extra)

    # Pair-emitting joins are CPU-dense, not byte-dense: a few MB of key rows
    # expand into millions of scored pairs, so AQE's byte-based partition
    # coalescing (advisoryPartitionSizeInBytes) merges them into a handful
    # of straggler tasks — measured at 2M rows: 75% of the pair-stage CPU in
    # 4 of 20 tasks (68-84s each vs a 12s median), a floor no core count
    # fixes. A user repartition on the exact join keys pins the join's
    # partitioning (AQE never coalesces REPARTITION_BY_NUM stages, and the
    # other join side must align), so the quadratic work spreads over the
    # full shuffle-partition count regardless of how few bytes carry it.
    # Spark reuses the repartition exchange for the join — same shuffle
    # count as before, only the coalescing behavior changes.
    n_pair_parts = int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    # _kn = 1 keys (the vast majority under selective blocking) cannot emit a
    # pair — drop them before the join so they never shuffle
    cold = keyed.filter(f"_kn >= 2 AND _kn <= {cfg.mega_key_threshold}")
    mega_tier_live = max_kn is None or max_kn > cfg.mega_key_threshold

    # the tier self-joins carry row-proportional sides: hint("merge") pins
    # the sort-merge shape the scaling work measured (SCALING.json) AND
    # stops AQE from broadcast-converting a side whose COMPRESSED shuffle
    # bytes under-read its true size (~20x on templated content — the
    # 16M-row maxResultSize failure mode; see pipeline.run_linkage)
    cold_pairs = (
        side(cold, 1)
        .repartition(n_pair_parts, "key")
        .join(side(cold, 2).hint("merge"), "key")
        .filter("id1 < id2")
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
    pair_feat = cold_pairs
    if mega_tier_live:
        mega = ranked_in_key(
            keyed.filter(f"_kn > {cfg.mega_key_threshold}"),
            ("norm", id_col),
            key_col="key",
            rank_col="_cn",
            total=mega_rows,
        )
        chain_left = mega.withColumn("_cn2", F.expr(f"explode(sequence(_cn + 1, _cn + {w}))"))
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
        pair_feat = pair_feat.unionByName(mega_pairs)
    scored = _score_exprs(pair_feat, cfg, use_cosine)
    # content-ordered chaining no longer guarantees id1 < id2 — canonicalize
    # inside the final projection (every feature is symmetric in the two
    # sides, so only ids swap)
    keep = ["key", "f_lev", "f_jac", "score"] + (["f_cos"] if use_cosine else [])
    return (
        scored.selectExpr("least(id1, id2) AS id1", "greatest(id1, id2) AS id2", *keep),
        key_log,
    )


def dedup_scored(scored_by_key: DataFrame) -> DataFrame:
    """Unique (id1, id2) scored pairs from the per-key scored table. Scores of
    the same pair are identical across keys (pure function of the records), so
    max() is just a deterministic pick."""
    feature_cols = [c for c in scored_by_key.columns if c not in ("id1", "id2", "key")]
    return scored_by_key.groupBy("id1", "id2").agg(
        *[F.expr(f"max({c}) AS {c}") for c in feature_cols]
    )
