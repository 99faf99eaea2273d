"""Candidate-pair generation: salted self-join per blocking key (SURVEY.md J3).

The reference's pair space is bounded by FAISS top-k; ours by blocking keys.
Pairs are canonicalized `id1 < id2` — the Spark form of the reference's
positive-score masking (bela/task/joint_el_task.py:697-702), which also halves
the pair space.

Skew handling (north rule, explicit — AQE skew-join is only the backstop):
  1. per-key caps with *logged* drop counts (mirrors the reference's explicit
     top-k bounds, num_cand_mentions=50, joint_el_task.py:800-802 — bounded
     fan-out is a feature, silent truncation is not);
  2. grid salting of hot keys: row x replicated over s2 in [0,S), joined on
     (key, salt(x), s2) == (key, s1, salt(y)) — each pair meets exactly once
     and a mega-key shatters into S^2 independent join tasks.

No stage ever buffers or sorts a whole blocking key in one task: key
cardinality comes from a map-side-combined groupBy joined back with a
shuffle-hash join, caps are two-phase (salt-bucket-local then global over the
bounded survivors), and the chained tier's content rank is a range-partitioned
two-phase rank (`ranked_in_key`). The annotated frame is persisted before the
hot/cold branch so the expensive key-generation DAG runs exactly once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from bela_spark.config import LinkageConfig


def keyed_with_counts(
    keys: DataFrame, key_col: str = "key", count_col: str = "_kn", min_count: int = 1
) -> DataFrame:
    """keys + key cardinality, WITHOUT a window: partial-aggregated groupBy +
    shuffle-hash join back. A count window over `key` buffers each key's whole
    membership in one task — for a 10^8-member near-dup family that is a
    single-task straggler; the groupBy count is map-side-combined and the
    shuffle-hash join streams the big side (no per-partition sort, unlike
    sort-merge, which would re-sort the mega key inside one partition).

    The join is null-safe (<=>): blocking keys are non-null today, but
    F.concat propagates nulls, and a plain equi-join would silently drop a
    future nullable key family from pairs AND from the drop log — where the
    count window this replaced kept a null partition. groupBy already groups
    nulls; eqNullSafe keeps the join from re-dropping them (still an
    equi-join shape, so the shuffle-hash hint applies).

    min_count > 1 keeps only rows of keys with at least that many members —
    the filter runs on the COUNTS side, before the join, so rows of
    smaller keys never shuffle back through the probe (r6: under selective
    blocking ~78% of key rows are singletons that a pair stage would filter
    with `_kn >= 2` AFTER annotating them; filtering the build side instead
    shrinks the join build ~15x and the output ~4.6x, and the downstream
    feature join + cache never see the dead rows). Identical to filtering
    `count_col >= min_count` on the returned frame."""
    counts = keys.groupBy(key_col).agg(F.expr(f"count(*) AS {count_col}"))
    if min_count > 1:
        counts = counts.filter(f"{count_col} >= {min_count}")
    cnt = counts.withColumnRenamed(key_col, "_kwc_key")
    return keys.join(cnt.hint("shuffle_hash"), F.expr(f"{key_col} <=> _kwc_key")).drop(
        "_kwc_key"
    )


def keyed_with_counts_cut(
    keys: DataFrame, mega_key_threshold: int
) -> tuple[DataFrame, int, int]:
    """keyed_with_counts(keys) as one eager cut, plus the two numbers
    fused_block_and_score plans its tiers from, observed on the cut at no
    job of their own (session.observed_cut): (cut, max_kn, mega_rows) — the
    largest key's size and the row count of keys above
    mega_key_threshold, i.e. the chained tier's rows."""
    from bela_spark.session import observed_cut

    cut, (max_kn, mega_rows) = observed_cut(
        keyed_with_counts(keys),
        max_kn=F.expr("coalesce(max(_kn), 0)"),
        mega_rows=F.expr(f"count(CASE WHEN _kn > {mega_key_threshold} THEN _kn END)"),
    )
    return cut, max_kn, mega_rows


# target rows per range chunk in ranked_in_key: small enough that a chunk's
# local sort is a trivial task, big enough that the per-row chunk expression
# stays short on small frames (see range_boundaries)
RANGE_CHUNK_TARGET_ROWS = 10_000

# Pair-eligible-key-count bound for broadcasting the filtered counts table in
# run_linkage's counts join (r6): at or below this many multi-member keys the
# (key, _kn) table is explicitly broadcast — the probe side then flows NARROW
# into a broadcast-hash join instead of shuffling every key row (measured:
# 225 MB / 2.45M rows of probe exchange saved per pass at 600k records; the
# interleaved A/B read ~2s on the pair segment, 3/3 rounds). The decision is
# made from a MEASURED count (never a size estimate — the r5 compressed-size
# broadcast failure mode cannot recur), and above the bound the pinned
# shuffle-hash join runs unchanged. 2M keys ~ 120-200 MB of broadcast hash
# table, comfortably inside the session's 24g driver; 0 disables the
# broadcast path.
COUNTS_BROADCAST_MAX_KEYS = 2_000_000


def _lex_ge(cols: Sequence[str], vals: Sequence) -> Column:
    """Lexicographic (cols...) >= (vals...) as one boolean expression —
    type-agnostic tuple comparison (works for any orderable column types, no
    struct-literal construction per row)."""
    expr = F.col(cols[-1]) >= F.lit(vals[-1])
    for c, v in zip(reversed(cols[:-1]), reversed(vals[:-1])):
        expr = (F.col(c) > F.lit(v)) | ((F.col(c) == F.lit(v)) & expr)
    return expr


def range_boundaries(
    df: DataFrame,
    tuple_cols: Sequence[str],
    n: int,
    oversample: int = 32,
    chunk_target_rows: int = RANGE_CHUNK_TARGET_ROWS,
    total: int | None = None,
) -> list[tuple]:
    """<= n-1 split tuples over `tuple_cols`, collected once on the driver —
    the explicit, data-derived form of what RangePartitioner samples.

    The sample predicate is a PURE function of the row (xxhash64 of the tuple
    below a count-scaled threshold), so the same ~n*oversample tuples are
    selected no matter how the input is partitioned or which plan branch
    re-executes the scan; boundary choice affects only chunk balance, never
    ranks (any order-respecting chunking yields identical two-phase ranks).
    Costs two column-pruned jobs over `df` (count + filtered collect), or
    only the collect when the caller passes the row count it already
    measured as `total` — callers with an expensive upstream DAG should
    persist or cut it (run_linkage does). Tuples containing nulls are
    excluded from boundary candidacy."""
    if total is None:
        total = df.count()
    # scale n to the measured frame (r6): boundaries cost per-ROW eval in the
    # chunk expression (one lexicographic compare chain per boundary), so a
    # 200k-row frame carrying 63 boundaries paid ~3x the chunk CPU it needed.
    # Target ~chunk_target_rows rows per chunk, capped by the caller's
    # n: big frames keep their full boundary count (per-task bound unchanged
    # at scale), small frames get proportionally fewer — per-task rows stay
    # <= max(target, total/n) either way, so no whole-key straggler can
    # reappear.
    n = min(n, max(1, total // max(1, chunk_target_rows)))
    if total == 0 or n <= 1:
        return []
    m = 1 << 40
    thresh = min(m, max(1, (n * oversample * m) // total))
    sample = sorted(
        tuple(r)
        for r in df.select(*tuple_cols)
        .where(F.pmod(F.xxhash64(*tuple_cols), F.lit(m)) < F.lit(thresh))
        .collect()
        if all(v is not None for v in r)
    )
    if not sample:
        return []
    k = min(n - 1, len(sample))
    bounds: list[tuple] = []
    for i in range(1, k + 1):
        b = sample[(i * len(sample)) // (k + 1)]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def ranked_in_key(
    df: DataFrame,
    order_cols: Sequence[str],
    key_col: str = "key",
    rank_col: str = "_cn",
    num_partitions: int | None = None,
    total: int | None = None,
) -> DataFrame:
    """Global 1-based rank within each key by `order_cols` — two-phase, so no
    task ever sorts a whole mega key (the fix for the single-task WindowExec
    the r3 verdict flagged in the chained pair tier).

    Phase 1: `_chunk` = how many collected range boundaries the row's
    (key, *order_cols) tuple is >= of — a pure function of the row's DATA, so
    every plan branch that recomputes it (the local-rank window, the sizes
    aggregate, both sides of any downstream self-join) assigns the identical
    chunk with no materialization step. This replaces the earlier
    repartitionByRange + spark_partition_id + localCheckpoint design, which
    needed the checkpoint to freeze a partition-id-derived column against
    AQE re-coalescing (and whose executor-local blocks made an executor loss
    fail the whole job on long runs). A window over (chunk, key) then ranks
    locally, each task bounded by ~total/n rows. Phase 2: per-(chunk, key)
    sizes (one tiny row per chunk a key touches) get a per-key running
    offset; global rank = local rank + offset of earlier chunks. Emits the
    identical rank a single `row_number over (partition by key order by
    order_cols)` would; rows tied on the full tuple always share a chunk, so
    ties never straddle a boundary (order_cols + a unique final column
    should still make the order total for a deterministic rank).

    The offsets join is left unhinted: offsets has one row per (chunk, key)
    pair, which AQE broadcasts when small but which a dataset with millions
    of distinct mega keys would make a multi-million-row frame — forcing a
    broadcast there would pressure the driver (ADVICE r4).

    `total`, when the caller already knows the row count of `df`, spares
    range_boundaries its count job; like the boundaries themselves it only
    sizes the chunks, so ranks never depend on it."""
    n = num_partitions or min(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), 256
    )
    tuple_cols = [key_col, *order_cols]
    chunk = F.lit(0)
    for b in range_boundaries(df, tuple_cols, n, total=total):
        chunk = chunk + F.when(_lex_ge(tuple_cols, b), 1).otherwise(0)
    chunked = df.withColumn("_chunk", chunk)
    w_local = W.partitionBy("_chunk", key_col).orderBy(*order_cols)
    local = chunked.withColumn("_lrn", F.row_number().over(w_local))
    # sizes off the RANKED frame, not a second `chunked` branch (r6):
    # row_number preserves row count, so the per-(chunk, key) counts are
    # identical — but this branch now shares `local`'s exchange (ReusedExchange;
    # the window output is already hash-partitioned on the grouping columns,
    # so the aggregate needs no exchange of its own) instead of re-evaluating
    # the chunk expression over the whole input a second time.
    sizes = local.groupBy("_chunk", key_col).agg(F.count("*").alias("_csz"))
    w_off = (
        W.partitionBy(key_col).orderBy("_chunk").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = sizes.withColumn(
        "_off", F.coalesce(F.sum("_csz").over(w_off), F.lit(0))
    ).select("_chunk", key_col, "_off")
    return (
        local.join(offsets, ["_chunk", key_col])
        .withColumn(rank_col, F.col("_lrn") + F.col("_off"))
        .drop("_chunk", "_lrn", "_off")
    )


def cap_ids_per_key(
    keys: DataFrame,
    cap: int,
    key_col: str = "key",
    id_col: str = "rid",
    salt_buckets: int = 64,
) -> DataFrame:
    """Keep the `cap` LOWEST ids per key (deterministic lowest-ids-win — the
    single bounded-fan-out rule shared by the ER pair cap, the simhash block
    cap and the ANN LSH bucket cap, so every cap in the repo truncates the
    same way and replays in SQL as the same row_number).

    Two-phase hot-key execution (ADVICE r3): a plain row_number over `key`
    sorts an over-full key's ENTIRE membership in one task before truncating
    — the mega-hot bucket the cap exists to bound is itself the straggler.
    Keys small enough to sort in one bounded task (n <= salt_buckets*cap)
    take the direct window; bigger keys first keep a local lowest-`cap` per
    deterministic salt bucket (tasks see ~n/salt_buckets rows), then the
    global lowest-`cap` of the <= salt_buckets*cap survivors. The kept set is
    exactly the single-phase one: each of the global lowest `cap` ids is the
    lowest within its own salt bucket, so phase 1 never drops a winner.

    Cost note: the counts join evaluates the un-persisted input DAG twice
    (counts branch + probe side) where the old single window paid one pass —
    that is deliberate: the recompute is parallel CPU (the counts branch is
    column-pruned to the key), while the window's buffering was a single-task
    memory bound. Callers for whom the input DAG is expensive and reused can
    persist it first."""
    keyed = keyed_with_counts(keys, key_col, "_ckn")
    capped = _cap_given_counts(keyed, cap, key_col, id_col, salt_buckets, "_ckn")
    # restore the caller's exact column order (the join moved key_col first)
    return capped.select(*keys.columns)


def _cap_given_counts(
    keyed: DataFrame,
    cap: int,
    key_col: str,
    id_col: str,
    salt_buckets: int,
    count_col: str,
) -> DataFrame:
    """Two-phase lowest-`cap`-ids-per-key over a frame already annotated with
    per-key cardinality `count_col` (see cap_ids_per_key for semantics)."""
    bound = salt_buckets * cap
    w_direct = W.partitionBy(key_col).orderBy(id_col)
    small = (
        keyed.filter(F.col(count_col) <= bound)
        .withColumn("_rn", F.row_number().over(w_direct))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    w_local = W.partitionBy(key_col, "_cs").orderBy(id_col)
    big = (
        keyed.filter(F.col(count_col) > bound)
        .withColumn("_cs", F.pmod(F.xxhash64(id_col), F.lit(salt_buckets)))
        .withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= cap)
        .drop("_rn", "_cs")
        .withColumn("_rn", F.row_number().over(w_direct))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    return small.unionByName(big)


def key_counts(keys: DataFrame, key_col: str = "key") -> DataFrame:
    """(key, n_ids): per-key cardinality — one partial-aggregated groupBy."""
    return keys.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n_ids")
    )


def key_drop_log(
    keys: DataFrame, cap: int | Sequence[int], key_col: str = "key"
) -> DataFrame:
    """(key, n_ids, n_dropped) for every key cap_ids_per_key would truncate —
    the never-silent companion (same contract as cap_keys' drop log).

    With a sequence of caps, ONE counts pass (the aggregate exchange is
    shared) feeds one filter per cap regime and the output gains a leading
    ``cap`` column: (cap, key, n_ids, n_dropped), all bigint — the dual-cap
    audit shape used by the simhash-block and LSH-bucket drop queries."""
    g = key_counts(keys, key_col)
    if isinstance(cap, int):
        return g.filter(F.col("n_ids") > cap).select(
            "key", "n_ids", (F.col("n_ids") - cap).alias("n_dropped")
        )
    out = None
    for c in cap:
        d = g.filter(F.col("n_ids") > c).select(
            F.lit(c).cast("bigint").alias("cap"),
            "key",
            F.col("n_ids").cast("bigint").alias("n_ids"),
            (F.col("n_ids") - c).cast("bigint").alias("n_dropped"),
        )
        out = d if out is None else out.unionByName(d)
    return out


def cap_keys(keys: DataFrame, cfg: LinkageConfig, id_col: str = "rid") -> tuple[DataFrame, DataFrame]:
    """Enforce max_ids_per_key. Returns (kept_keys, drop_log).

    drop_log: (key, n_ids, n_dropped) for every truncated key — never silent.
    Keep-set is deterministic: lowest ids by sort order win.
    """
    kept = cap_ids_per_key(keys, cfg.max_ids_per_key, "key", id_col)
    drops = key_drop_log(keys, cfg.max_ids_per_key)
    return kept, drops


def candidate_pairs_with_drops(
    keys: DataFrame,
    cfg: LinkageConfig,
    id_col: str = "rid",
    persist: bool = True,
    features: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, drop_log): capped, salted, canonical (id1 < id2) pairs per key.

    The key frame is annotated with its per-key cardinality (groupBy +
    shuffle-hash join — no whole-key window task), persisted once, and feeds
    the drop log, the two-phase cap, the cold equi-join (both sides) and the
    hot salt-grid join (both sides).

    `features`, when given, is an (id_col, *feature_cols) frame joined onto
    the CAPPED key rows — a key-row-scale join, never a pair-scale one — so
    the self-join emits each feature column as `<col>1`/`<col>2` and callers
    can compute pair scores as a projection in the SAME stage (the
    fused_block_and_score shape): no pair-sized feature payload ever has to
    be re-joined downstream. Feature columns must not be named `key`,
    `id1`/`id2`, or start with `_`.
    """
    keyed = keyed_with_counts(keys)
    if persist:
        keyed = keyed.persist()

    drops = (
        keyed.filter(F.col("_kn") > cfg.max_ids_per_key)
        .groupBy("key")
        .agg(F.max("_kn").alias("n_ids"))
        .select(
            "key",
            "n_ids",
            (F.col("n_ids") - cfg.max_ids_per_key).alias("n_dropped"),
        )
    )

    kept = _cap_given_counts(
        keyed, cfg.max_ids_per_key, "key", id_col, salt_buckets=64, count_col="_kn"
    ).withColumn("_eff", F.least(F.col("_kn"), F.lit(cfg.max_ids_per_key)))

    feat_cols: list[str] = []
    if features is not None:
        feat_cols = [c for c in features.columns if c != id_col]
        # one feature row per record — pinned sort-merge so no size estimate
        # can ever broadcast a row-proportional frame (see
        # pipeline.run_linkage for the measured 16M-row failure mode)
        kept = kept.join(features.hint("merge"), id_col)

    def side(df: DataFrame, n: int, extra: Sequence[str] = ()) -> DataFrame:
        cols = [F.col(id_col).alias(f"id{n}")] + [
            F.col(c).alias(f"{c}{n}") for c in feat_cols
        ]
        return df.select("key", *cols, *extra)

    cold = kept.filter(F.col("_eff") <= cfg.hot_key_threshold)
    hot = kept.filter(F.col("_eff") > cfg.hot_key_threshold)

    # merge hints on the self-joins: same rationale as fused_block_and_score
    # (row-proportional sides must never be broadcast-converted)
    cold_pairs = (
        side(cold, 1)
        .join(side(cold, 2).hint("merge"), "key")
        .filter(F.col("id1") < F.col("id2"))
    )

    s = cfg.salt_buckets
    # salt(x) is a deterministic bucket of the id; replicate each side across
    # the other side's salt axis so every (x, y) meets at exactly one grid cell
    salted = hot.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(s)))
    left = salted.withColumn(
        "_s2", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    ).withColumnRenamed("_salt", "_s1")
    right = salted.withColumn(
        "_s1", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    ).withColumnRenamed("_salt", "_s2")
    hot_pairs = (
        side(left, 1, extra=("_s1", "_s2"))
        .join(
            side(right, 2, extra=("_s1", "_s2")).hint("merge"),
            ["key", "_s1", "_s2"],
        )
        .filter(F.col("id1") < F.col("id2"))
        .drop("_s1", "_s2")
    )
    out_cols = ["id1", "id2", "key"] + [f"{c}{n}" for c in feat_cols for n in (1, 2)]
    return cold_pairs.unionByName(hot_pairs).select(*out_cols), drops
