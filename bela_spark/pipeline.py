"""End-to-end record-linkage pipeline (SURVEY.md section 3.2 Spark rebuild).

One continuous DataFrame DAG:
  read -> normalize + sha256 -> blocking keys (MinHash-LSH + prefix)
       -> key counts + feature join -> fused pair join + scoring (plain
          equi-join up to mega_key_threshold members, sorted-neighborhood
          chain above) -> threshold
       -> large-star/small-star clustering -> cluster assignment -> stats/F1

Shuffles: blocking-key aggregation, feature join, pair join, CC rounds —
everything else is narrow and pipelined by Catalyst. Single collect() only in
evaluation helpers.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from bela_spark.config import LinkageConfig
from bela_spark.functions.text import record_id
from bela_spark.functions.vectors import embed_text
from bela_spark.operators.blocking import blocking_keys, with_record_columns
from bela_spark.operators.cc import CCResult, connected_components
from bela_spark.operators.idf import weight_tokens_packed
from bela_spark.operators.scoring import (
    accept_edges,
    dedup_scored,
    fused_block_and_score,
)
from bela_spark.session import observed_cut, release


@dataclass
class LinkageRun:
    records: DataFrame        # rid, content_sha, norm, tokens, (embedding), input cols
    key_drops: DataFrame      # key, n_ids, strategy: every key above
                              # hot_key_threshold and the tier that paired it
                              # ("plain" or "chained") — never silent
    pairs: DataFrame          # id1, id2, key
    scored_by_key: DataFrame  # id1, id2, key, features..., score (per blocking key)
    scored: DataFrame         # id1, id2, features..., score (unique pairs)
    edges: DataFrame          # id1, id2 accepted
    cc: CCResult
    clusters: DataFrame       # records + cluster_id
    keys_features: DataFrame  # rid, key, _kn, features: the pair-stage
                              # input, pair-eligible key rows only (_kn >= 2;
                              # a singleton key cannot emit a pair); a
                              # localCheckpoint when persist=True
    # the caches and checkpoints the run still holds (records and
    # keys_features cuts, the scored cache); release() frees them
    held: list[DataFrame] = field(default_factory=list, repr=False)

    def release(self) -> None:
        """Free everything the run holds in executor storage: its caches,
        its checkpoints and connected_components' checkpoints. Every frame
        of the run is unreadable afterwards (a read fails loud); frames a
        caller cached on top of the run are the caller's to unpersist."""
        release(*self.held, *self.cc.checkpoints)
        self.held.clear()
        self.cc.checkpoints.clear()


def prepare_records(
    df: DataFrame, cfg: LinkageConfig, use_embeddings: bool = False
) -> DataFrame:
    """Input table -> records with rid / content_sha / norm / tokens
    (/ embedding). rid = sha256(repo||path||commit) per FIXTURES.md F2."""
    rec = with_record_columns(df, cfg).withColumn(
        "rid", record_id("repo", "path", "commit")
    )
    if use_embeddings:
        rec = rec.withColumn("embedding", embed_text(cfg.embedding_dim, cfg.seed)("norm"))
    # The raw content payload is fully absorbed into content_sha/norm/tokens
    # at this point and nothing downstream reads it; dropping it here keeps
    # the ~600 B/row body out of the records cache (its columnar build was
    # the single biggest CPU stage of the bench pass: 240 s over 64 tasks,
    # r6 stage profile) and out of the collapse join + cluster-assignment
    # shuffles (guide §2.3). Callers that need the body downstream re-join
    # it by rid/content_sha from the source.
    return rec.drop("content")


def pair_stage_features(
    base: DataFrame, cfg: LinkageConfig, use_embeddings: bool = False
) -> DataFrame:
    """(rid, norm, tokens[, ws][, embedding]) slimmed for the pair stage.

    These rows are shuffled per (record, key), so every byte is multiplied by
    the key fan-out: norm -> its lev_max_chars prefix (all Levenshtein sees);
    tokens -> distinct 32-bit token hashes (set jaccard is hash-collision
    tolerant at ~50 tokens, int arrays shuffle and compare ~3x cheaper than
    strings; also validates the O(1) size-ratio gate, which needs sets).
    With cfg.idf_weighting the hashed token set is further replaced by the
    (token, weight) array + weight sum from operators/idf.py — weights are
    document frequencies over `base`, i.e. post-collapse representatives when
    the caller collapses exact duplicates (a 10^6-member exact-dup group
    counts once toward df, as it should). Shared by run_linkage and the
    scaling bench so both always measure the same feature kernel."""

    # outer array_distinct: a 2^31-bucket hash collision can merge two
    # distinct tokens, and the O(1) size-ratio gate in scoring is only exact
    # over genuine sets — dedup AFTER hashing keeps it airtight
    slim = [
        f"substring(norm, 1, {cfg.lev_max_chars}) AS norm",
        "array_distinct(transform(array_distinct(tokens), "
        "x -> CAST(pmod(xxhash64(x), 2147483648L) AS INT))) AS tokens",
    ] + (["embedding"] if use_embeddings else [])
    feats = base.selectExpr("rid", *slim)
    if cfg.idf_weighting:
        # packed form: the hashed int tokens are already < 2^31, so each
        # rides with its global weight in one long — the scoring stage then
        # intersects packed arrays natively instead of map-probing per pair
        feats = weight_tokens_packed(feats, "rid", "tokens")
    return feats


def run_linkage(
    df: DataFrame,
    cfg: LinkageConfig | None = None,
    use_embeddings: bool = False,
    persist: bool = True,
    collapse_exact: bool = False,
) -> LinkageRun:
    """The full pipeline. With collapse_exact, records sharing identical
    normalized content are collapsed to one representative before blocking —
    the at-scale move (a 10^6-member exact-dup group must never reach the
    pairwise stage; cf. the reference's in-batch entity dedup + target remap,
    order_entities, mblink/utils/utils.py:139-207). Members re-expand to the
    representative's cluster at assignment time, so final clusters are
    identical either way (tests/test_pipeline_f1.py pins this).

    Scoring: one scorer, the fused JVM key join (fused_block_and_score), for
    every config — lexical-only, the at_scale/IDF blend, and with
    use_embeddings=True the embedding-cosine blend. Pairs are scored inside
    the blocking-key self-join, so no pair-sized feature shuffle runs."""
    cfg = cfg or LinkageConfig()
    # With persist=True the pass cuts lineage twice with an eager
    # localCheckpoint: at the records it keys on and at the pair-stage
    # input. Every later DataFrame call and action then analyses and plans a
    # LogicalRDD leaf instead of the whole scan -> normalize -> collapse ->
    # key-gen -> IDF tree, which each tier branch of the self-join would
    # otherwise copy. The price: a lost executor fails the pass loud
    # (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) instead of recomputing, as CC's and
    # ingest's cuts already do. The caches a cut makes dead are freed as
    # soon as it is taken; LinkageRun.release frees the rest.
    # persist=False stays fully lazy.
    held: list[DataFrame] = []
    records = prepare_records(df, cfg, use_embeddings=use_embeddings)

    if collapse_exact:
        # one shuffle on a compact 128-bit key (never on the full norm string):
        # every record learns its representative via a map-side-combined min
        # + shuffle-hash join back. (Not a window min: WindowExec buffers each
        # partition group, so a 10^6-member exact-dup group — the very thing
        # this stage exists to absorb — would sit in one task's memory.)
        # The key is null-coalesced: an equi-join drops null keys where the
        # old window kept a null partition, and every input row must keep its
        # cluster_id. "\0" cannot collide with md5's hex output.
        if persist:
            # the collapse reads records twice (reps aggregate + join probe)
            records = records.persist()
        pre_collapse = records
        ck = F.expr(r"coalesce(md5(norm), '\0')")
        reps = records.groupBy(ck.alias("_ck")).agg(F.expr("min(rid) AS rep"))
        records = (
            records.withColumn("_ck", ck)
            .join(reps.hint("shuffle_hash"), "_ck")
            .drop("_ck")
        )
    if persist:
        # records feed key gen, the feature join and cluster assignment
        records = records.localCheckpoint()
        held.append(records)
        if collapse_exact:
            pre_collapse.unpersist()
    base = records.filter("rid = rep") if collapse_exact else records

    # dedup=False: (rid, key) is unique by construction (namespaced families,
    # band index in the key string) — see blocking_keys; the distinct this
    # skips was a pure no-op exchange of the widest pre-pair frame (r6).
    keys_slim = blocking_keys(base, cfg, dedup=False)
    if persist:
        # the counts cut and the counts join below read it (counts branch +
        # probe branch); without this persist each re-runs the whole key-gen
        # DAG — 16x md5 minhash included. Freed as soon as the pair-stage
        # input is cut.
        keys_slim = keys_slim.persist()
    # key cardinalities aggregated over the SLIM (rid, key) frame BEFORE the
    # feature join (r6): the key-gen/feature join below is 1:1 per rid
    # (pair_stage_features emits exactly one row per base record), so the
    # per-key counts are identical to counting after the join — but the
    # counts shuffle + shuffle-hash probe now carry ~100 B/row instead of the
    # full feature payload, and ONE materialized frame (the cut pair-stage
    # input below) feeds the whole pair stage (guide §2.3).
    # min_count=2: a _kn = 1 key cannot emit a pair, and under selective
    # blocking ~78% of key rows are singletons — every downstream consumer
    # (tier filters, key log, boundaries) either filters _kn >= 2 itself or
    # only looks at _kn > hot, so dropping them AT THE COUNTS JOIN yields
    # identical pairs/drops while the feature join and the pair-stage input
    # shrink ~4.6x (guide §2.3: shuffle fewer rows, earlier).
    from bela_spark.operators.pairs import COUNTS_BROADCAST_MAX_KEYS, keyed_with_counts

    max_kn = mega_rows = None
    if persist:
        # measured-count broadcast gate (see COUNTS_BROADCAST_MAX_KEYS): the
        # filtered counts table is tiny under selective blocking (~140k keys
        # at 600k records), and broadcasting it lets the 2.45M-row probe side
        # flow narrow into the join instead of shuffling. The counts are cut
        # once, and the cut observes the key count (exact, never a size
        # estimate), the largest key (whether fused_block_and_score's chained
        # tier can hold a row) and the chained tier's row total (its rank
        # boundaries) at no job of its own; above the bound the pinned
        # shuffle-hash join runs.
        multi, (n_multi, max_kn, mega_rows) = observed_cut(
            keys_slim.groupBy("key").agg(F.expr("count(*) AS _kn")).filter("_kn >= 2"),
            n_multi=F.expr("count(*)"),
            max_kn=F.expr("coalesce(max(_kn), 0)"),
            mega_rows=F.expr(
                f"coalesce(sum(CASE WHEN _kn > {cfg.mega_key_threshold} THEN _kn END), 0)"
            ),
        )
        cnt = multi.withColumnRenamed("key", "_kwc_key")
        if 0 < COUNTS_BROADCAST_MAX_KEYS and n_multi <= COUNTS_BROADCAST_MAX_KEYS:
            cnt = F.broadcast(cnt)
        else:
            cnt = cnt.hint("shuffle_hash")
        keys = keys_slim.join(cnt, F.expr("key <=> _kwc_key")).drop("_kwc_key")
    else:
        keys = keyed_with_counts(keys_slim, min_count=2)
    # one feature row PER RECORD: pin the join strategy so AQE can never
    # broadcast-convert it — on repetitive corpora the compressed shuffle
    # bytes under-read the true relation size by ~20x, and a broadcast of a
    # per-record frame is a driver OOM / maxResultSize failure at scale
    # (reproduced at 16M rows before this pin). hint("merge") rather than
    # shuffle_hash: both sides are row-proportional, so there is no bounded
    # build side to hash (the rule documented at idf.weight_tokens)
    keys_with_features = keys.join(
        pair_stage_features(base, cfg, use_embeddings=use_embeddings).hint("merge"),
        "rid",
    )
    if persist:
        # every tier branch of the self-join, the key log and any range
        # boundaries read this frame: cut it, and free the slim keys and the
        # counts, which the cut has made dead
        keys_with_features = keys_with_features.localCheckpoint()
        held.append(keys_with_features)
        keys_slim.unpersist()
        release(multi)
    scored_by_key, drops = fused_block_and_score(
        keys_with_features,
        cfg,
        use_cosine=use_embeddings,
        max_kn=max_kn,
        mega_rows=mega_rows,
    )
    pairs = scored_by_key.selectExpr("id1", "id2", "key")

    scored = dedup_scored(scored_by_key)
    if persist:
        # ONE pair-stage pass per run (r6): persist the deduped scored
        # pairs and derive the edge set from the cache, so CC's edge
        # materialization, the caller's count and the (untimed) bench F1
        # gate all read the same computed-once frame (LinkageRun.release
        # frees it).
        # Identical edge set either way: scores of a pair are equal
        # across keys, so filter-then-distinct over the per-key frame ==
        # filter over the deduped frame.
        scored = scored.persist()
        held.append(scored)
        edges = accept_edges(scored, cfg)
    else:
        # threshold BEFORE dedup: the accepted-edge set is tiny next to
        # the scored-pair set, so distinct() runs on the small side
        edges = accept_edges(scored_by_key, cfg)
    cc = connected_components(
        edges, max_rounds=cfg.max_cc_rounds, checkpoint_dir=cfg.checkpoint_dir
    )
    if collapse_exact:
        # expand: every record inherits its representative's component
        rep_assign = cc.assignments.withColumnRenamed("rid", "rep")
        # assignments are row-proportional (one row per clustered record):
        # pinned sort-merge, never a size-estimated broadcast
        clusters = (
            records.join(rep_assign.hint("merge"), "rep", "left")
            .withColumn("cluster_id", F.expr("coalesce(component, rep)"))
            .drop("component", "rep")
        )
    else:
        clusters = assign_clusters(records, cc.assignments)
    return LinkageRun(
        records, drops, pairs, scored_by_key, scored, edges, cc, clusters,
        keys_with_features, held=held,
    )


def assign_clusters(records: DataFrame, assignments: DataFrame) -> DataFrame:
    """C6: join components back; singletons become their own cluster."""
    # row-proportional right side — pinned sort-merge (see run_linkage)
    return records.join(assignments.hint("merge"), "rid", "left").withColumn(
        "cluster_id", F.expr("coalesce(component, rid)")
    ).drop("component")


def cluster_stats(clusters: DataFrame, top_n: int = 10) -> DataFrame:
    """Flagship output: the top-N duplicate-file entities."""
    return (
        clusters.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_files"),
            F.countDistinct("repo").alias("n_repos"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("path").alias("example_path"),
        )
        .orderBy(F.desc("n_files"), "cluster_id")
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# Evaluation: micro pairwise P/R/F1 per blocking key (A1 analogue,
# bela/evaluation/model_eval.py:312-372) against planted group truth.
# ---------------------------------------------------------------------------

def label_pairs(pairs: DataFrame, records_with_truth: DataFrame) -> DataFrame:
    """(id1, id2, key, label): label=1 iff both sides share a planted group.
    `records_with_truth` must carry (rid, group_id) from fixtures F1."""
    g = records_with_truth.select("rid", "group_id")
    return (
        pairs.join(g.withColumnRenamed("rid", "id1").withColumnRenamed("group_id", "g1"), "id1")
        .join(g.withColumnRenamed("rid", "id2").withColumnRenamed("group_id", "g2"), "id2")
        .withColumn("label", (F.col("g1") == F.col("g2")).cast("int"))
        .drop("g1", "g2")
    )


def pairwise_f1(
    labeled: DataFrame, scored: DataFrame, threshold: float, per_key: bool = False
) -> DataFrame:
    """Micro P/R/F1 of score>=threshold vs labels over candidate pairs.

    per_key=True gives one row per blocking key (the north-rule granularity);
    otherwise one global micro row.
    """
    j = labeled.join(scored.select("id1", "id2", "score"), ["id1", "id2"])
    j = j.withColumn("pred", (F.col("score") >= F.lit(threshold)).cast("int"))
    group = ["key"] if per_key else []
    agg = j.groupBy(*group).agg(
        F.sum(F.col("pred") * F.col("label")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label")).alias("fn"),
    )
    return agg.select(
        *group,
        "tp",
        "fp",
        "fn",
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias("recall"),
        (
            2.0 * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1))
        ).alias("f1"),
    )


def documents_as_repo_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: driver `documents` table -> the north-rule repo_files shape.

    A document row becomes a file row (content=text); lets the flagship query
    and every oracle-checked ER query run on driver-provided parquet.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("src/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/d"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.sha2(F.concat_ws(":", "doc_id", "source"), 256).substr(1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
