"""Fused block-and-score: key-log strategy labels, mega-key chaining, gating."""

import pytest
from pyspark.sql import functions as F

from bela_spark.config import LinkageConfig
from bela_spark.fixtures import synth_repo_files
from bela_spark.operators.blocking import blocking_keys
from bela_spark.operators.pairs import keyed_with_counts
from bela_spark.operators.scoring import fused_block_and_score, jaccard_gate
from bela_spark.pipeline import prepare_records, run_linkage


def _kwf(base, cfg, min_count=1):
    """The pair-stage input: key rows with their `_kn` and features."""
    keys = blocking_keys(base, cfg)
    kwf = keys.join(
        base.select("rid", "norm", F.array_distinct("tokens").alias("tokens")), "rid"
    )
    return keyed_with_counts(kwf, min_count=min_count)


@pytest.fixture(scope="module")
def base(spark):
    cfg = LinkageConfig()
    df = prepare_records(synth_repo_files(spark, 400, seed=42), cfg).cache()
    df.count()
    yield df
    df.unpersist()


def test_key_log_labels_the_tier_that_ran(spark):
    """key_log lists every key above hot_key_threshold with the tier that
    paired it: a key in (hot, mega] pairs fully in the plain equi-join and
    is labelled "plain", a key above mega is chained and labelled
    "chained"; a key at or below hot is not listed."""
    rows = [(f"a{i}", f"mid body {i}", ["m"], "mid") for i in range(3)]
    rows += [(f"b{i}", f"big body {i}", ["b"], "big") for i in range(6)]
    rows += [(f"c{i}", f"cold body {i}", ["c"], "cold") for i in range(2)]
    df = spark.createDataFrame(rows, ["rid", "norm", "tokens", "key"])
    cfg = LinkageConfig(hot_key_threshold=2, mega_key_threshold=4, chain_window=2)
    scored, klog = fused_block_and_score(keyed_with_counts(df), cfg)
    assert {r["key"]: (r["n_ids"], r["strategy"]) for r in klog.collect()} == {
        "mid": (3, "plain"),
        "big": (6, "chained"),
    }
    per_key = {
        r["key"]: r["count"] for r in scored.groupBy("key").count().collect()
    }
    # plain pairs all C(3, 2); the chain of 6 at window 2 emits 5 + 4
    assert per_key == {"mid": 3, "big": 9, "cold": 1}


def test_chain_content_order_finds_groups(spark):
    """The SNM property: inside one mega key holding many interleaved small
    groups, content-ordered chaining puts group siblings window-adjacent, so
    EVERY member meets at least one sibling. (With random-id order, siblings
    of a 3-member group among 60 unrelated members sit > w apart with high
    probability and the group never meets itself — the failure mode the
    content sort exists to prevent.)"""
    rows = []
    for g in range(20):
        for v in range(3):
            rows.append((f"id{g:02d}_{v}", f"group {g:02d} body variant {v}", ["shared"]))
    df = spark.createDataFrame(rows, ["rid", "norm", "tokens"]).withColumn(
        "key", F.lit("mega")
    )
    cfg = LinkageConfig(hot_key_threshold=2, mega_key_threshold=4, chain_window=2)
    scored, klog = fused_block_and_score(keyed_with_counts(df), cfg)
    assert {r["strategy"] for r in klog.collect()} == {"chained"}
    intra = scored.filter(
        F.substring("id1", 1, 4) == F.substring("id2", 1, 4)
    ).select("id1", "id2").collect()
    met = {r["id1"] for r in intra} | {r["id2"] for r in intra}
    assert len(met) == 60, f"only {len(met)}/60 members met a sibling"
    # and the emission stayed linear: 60 members x window 2, not C(60,2)
    assert scored.count() <= 60 * cfg.chain_window


def test_chain_window_zero_rejected(spark, base):
    """w=0 would make F.sequence count DOWN and emit self-pairs — refuse."""
    cfg = LinkageConfig(hot_key_threshold=4, mega_key_threshold=8, chain_window=0)
    with pytest.raises(ValueError, match="chain_window"):
        fused_block_and_score(_kwf(base, cfg), cfg)


def test_chaining_kicks_in_and_is_linear(spark, base):
    cfg = LinkageConfig(hot_key_threshold=4, mega_key_threshold=8, chain_window=2)
    scored, klog = fused_block_and_score(_kwf(base, cfg), cfg)
    strategies = {r["strategy"] for r in klog.collect()}
    assert "chained" in strategies
    # chained key contributes at most n*w pairs, not C(n,2)
    chained_keys = [r["key"] for r in klog.filter("strategy = 'chained'").collect()]
    per_key = (
        scored.filter(F.col("key").isin(chained_keys))
        .groupBy("key")
        .agg(F.count("*").alias("n_pairs"))
        .collect()
    )
    sizes = {r["key"]: r["n_ids"] for r in klog.collect()}
    for r in per_key:
        n = sizes[r["key"]]
        assert r["n_pairs"] <= n * cfg.chain_window
        assert r["n_pairs"] >= n - 1  # the chain is connected


def test_mega_group_still_one_cluster(spark):
    """A duplicate group far above the mega threshold must still resolve to a
    single cluster through chain edges + transitive CC."""
    cfg = LinkageConfig(hot_key_threshold=4, mega_key_threshold=8, chain_window=2)
    rows = []
    for i in range(40):
        # near-identical contents: shared body, one varying token
        rows.append(
            (f"org/r{i}", "src/a/same.py", f"c{i:04d}", "py",
             f"def shared_fn(a, b):\n    return a + b * 7\n# tag {i % 3}\n")
        )
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    run = run_linkage(df, cfg)
    n_clusters = run.clusters.select("cluster_id").distinct().count()
    assert n_clusters == 1, n_clusters


def test_gating_preserves_edges(spark, base):
    """Gated scoring must produce exactly the same accepted edge set as
    ungated scoring (the gates are exactness-preserving by construction)."""
    cfg = LinkageConfig()
    from bela_spark.operators.scoring import _score_exprs, accept_edges

    scored, _ = fused_block_and_score(_kwf(base, cfg), cfg)
    gated_edges = {(r["id1"], r["id2"]) for r in accept_edges(scored, cfg).collect()}

    # ungated reference: recompute features with the gate forced open
    open_cfg = LinkageConfig(score_threshold=-1.0)  # gate: everything passes
    scored_open, _ = fused_block_and_score(_kwf(base, open_cfg), open_cfg)
    ungated_edges = {
        (r["id1"], r["id2"])
        for r in scored_open.filter(F.col("score") >= cfg.score_threshold)
        .select("id1", "id2")
        .distinct()
        .collect()
    }
    assert gated_edges == ungated_edges


def test_jaccard_gate_formula():
    cfg = LinkageConfig(w_lev=0.35, w_jac=0.35, w_cos=0.30, score_threshold=0.60)
    g = jaccard_gate(cfg, use_cosine=False)
    # (0.6*0.7 - 0.35) / 0.35 = 0.2
    assert g == pytest.approx(0.2)
    # with cosine active the gate goes negative -> never gated
    assert jaccard_gate(cfg, use_cosine=True) < 0


@pytest.mark.parametrize("tiers", ["hot_and_chained_empty", "hot_and_chained_live"])
def test_measured_max_kn_matches_all_tier_build(spark, base, tiers):
    """With the measured max_kn (and the chained tier's row total)
    fused_block_and_score returns exactly the rows of the all-tiers build
    (max_kn=None), on an input with no key above hot_key_threshold and on
    one with keys in both (hot, mega] and above mega. An empty chained tier
    is not planned, and building the stage runs no Spark job: the chained
    tier's range-boundary count is taken from mega_rows, not from a job."""
    from conftest import executed_plan, jobs_run

    if tiers == "hot_and_chained_live":
        cfg = LinkageConfig(hot_key_threshold=3, mega_key_threshold=8, chain_window=2)
    else:
        cfg = LinkageConfig()
    kwf = _kwf(base, cfg, min_count=2).cache()
    kn = F.col("_kn")
    per_key = kwf.groupBy("key").agg(F.max(kn).alias("_kn"))
    max_kn, mega_rows = per_key.agg(
        F.max(kn), F.coalesce(F.sum(F.when(kn > cfg.mega_key_threshold, kn)), F.lit(0))
    ).first()
    if tiers == "hot_and_chained_live":
        assert max_kn > cfg.mega_key_threshold
        assert per_key.filter((kn > 3) & (kn <= 8)).count() > 0
    else:
        assert 2 <= max_kn <= cfg.hot_key_threshold

    full, full_log = fused_block_and_score(kwf, cfg)
    (measured, measured_log), jobs = jobs_run(
        spark,
        lambda: fused_block_and_score(kwf, cfg, max_kn=max_kn, mega_rows=mega_rows),
    )
    assert jobs == 0
    assert sorted(map(tuple, measured.collect())) == sorted(map(tuple, full.collect()))
    assert sorted(map(tuple, measured_log.collect())) == sorted(map(tuple, full_log.collect()))
    live = tiers == "hot_and_chained_live"
    assert ("_cn2" in executed_plan(measured)) == live  # the chain's join column
    kwf.unpersist()


def _write_documents(spark, sf_dir):
    """A documents.parquet of near-duplicate families (five variants of
    each of 8 texts) plus singletons, so some blocking keys hold more than
    three members."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(300)]
    rows, doc_id = [], 0
    for _ in range(8):
        base = rng.sample(vocab, 24)
        for _ in range(5):
            words = list(base)
            words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(words), "en", f"src{doc_id % 3}"))
            doc_id += 1
    for _ in range(20):
        rows.append((doc_id, " ".join(rng.sample(vocab, 24)), "en", "src0"))
        doc_id += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")


def test_er_chained_pairs_leaves_no_cache(spark, tmp_path):
    """er_chained_pairs cuts its keyed input instead of persisting it, so
    the session's cache manager is empty after the query; the rows equal
    the persisted build with both tiers planned (max_kn=None)."""
    from bela_spark import queries

    sf = str(tmp_path)
    _write_documents(spark, sf)
    spark.catalog.clearCache()
    got = sorted(tuple(r) for r in queries.er_chained_pairs(spark, sf).collect())
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    cfg = LinkageConfig(hot_key_threshold=2, mega_key_threshold=3, chain_window=2)
    recs = queries._records(spark, sf).select(
        "doc_id",
        F.substring("norm", 1, cfg.lev_max_chars).alias("norm"),
        F.array_distinct("tokens").alias("tokens"),
    )
    keyed = keyed_with_counts(queries._all_keys(spark, sf).join(recs, "doc_id")).persist()
    assert keyed.filter(F.col("_kn") > cfg.mega_key_threshold).count() > 0
    scored, _ = fused_block_and_score(keyed, cfg, id_col="doc_id")
    want = sorted(tuple(r) for r in scored.select("id1", "id2", "key").distinct().collect())
    keyed.unpersist()
    assert got == want and got
