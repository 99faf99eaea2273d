"""End-to-end linkage on the labeled fixture: the north-rule acceptance test.

Pairwise F1 >= 0.99 on labeled candidate pairs per blocking key
(BASELINE.json metric), sha256 row invariant, and the embedding-blend scorer.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bela_spark.config import LinkageConfig
from bela_spark.fixtures import synth_repo_files
from bela_spark.pipeline import (
    cluster_stats,
    label_pairs,
    pairwise_f1,
    run_linkage,
)

N_ROWS = 800


@pytest.fixture(scope="module")
def fixture_df(spark):
    df = synth_repo_files(spark, N_ROWS, seed=42, with_truth=True).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def run(spark, fixture_df):
    return run_linkage(fixture_df.drop("group_id"), LinkageConfig())


def _truth(fixture_df):
    return fixture_df.selectExpr(
        "sha2(concat_ws('||', repo, path, commit), 256) as rid", "group_id"
    )


def test_pairwise_f1_target(spark, fixture_df, run):
    cfg = LinkageConfig()
    labeled = label_pairs(run.pairs, _truth(fixture_df))
    row = pairwise_f1(labeled, run.scored, cfg.score_threshold).collect()[0]
    assert row["f1"] >= 0.99, row.asDict()
    assert row["tp"] > 100  # non-degenerate


def test_pairwise_f1_per_blocking_key(spark, fixture_df, run):
    cfg = LinkageConfig()
    labeled = label_pairs(run.pairs, _truth(fixture_df))
    per_key = pairwise_f1(labeled, run.scored, cfg.score_threshold, per_key=True)
    # keys with real signal (>=3 labeled-positive pairs) must each hit 0.99
    bad = per_key.filter((F.col("tp") + F.col("fn") >= 3) & (F.col("f1") < 0.99))
    assert bad.count() == 0, [r.asDict() for r in bad.limit(5).collect()]


def _fragmented_groups(run_x, truth) -> set:
    j = run_x.clusters.select("rid", "cluster_id").join(truth, "rid")
    frag = (
        j.filter(F.col("group_id").startswith("g"))
        .groupBy("group_id")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"))
        .filter("n_clusters > 1")
    )
    return {r["group_id"] for r in frag.collect()}


def test_chained_regime_loses_no_clusters(spark, fixture_df, run):
    """Force every hot fixture key through sorted-neighborhood chaining (the
    linear-emission tier a 100 TB run lives in — at 4M synth rows the hot
    band keys cross this boundary, BASELINE.md round 3): chaining emits ~w
    pairs per member instead of C(n,2), and the resulting clusters must be
    no worse than the full-pairing default. (Some fixture groups fragment
    under EITHER config — the 4th mutation shares no band with its siblings
    at 800 rows; that is blocking recall, the conditional-on-blocking F1 of
    BASELINE.json, and is identical across regimes by this test.)"""
    cfg = LinkageConfig(hot_key_threshold=8, mega_key_threshold=16)
    run_c = run_linkage(fixture_df.drop("group_id"), cfg)
    # the chained tier must actually engage, or this test proves nothing
    strategies = {r["strategy"] for r in run_c.key_drops.collect()}
    assert "chained" in strategies, strategies
    truth = _truth(fixture_df)
    # subset, not equality: chaining merging MORE groups than full pairing
    # (window-adjacent similars, the improvement BASELINE.md measured at
    # 600k) is allowed — only NEW fragmentation is a regression
    assert _fragmented_groups(run_c, truth) <= _fragmented_groups(run, truth)


def test_exact_duplicates_cluster_together(spark, fixture_df, run):
    """Whitespace variants normalize identically -> must share a cluster."""
    same_norm = (
        run.clusters.groupBy("norm")
        .agg(F.countDistinct("cluster_id").alias("nc"), F.count("*").alias("n"))
        .filter("n > 1")
    )
    assert same_norm.filter("nc > 1").count() == 0


def test_cluster_stats_shape(run):
    rows = cluster_stats(run.clusters, top_n=5).collect()
    assert len(rows) == 5
    assert rows[0]["n_files"] >= rows[-1]["n_files"]
    assert set(rows[0].asDict()) == {
        "cluster_id",
        "n_files",
        "n_repos",
        "n_langs",
        "example_path",
    }


def test_no_key_drops_at_fixture_scale(run):
    assert run.key_drops.count() == 0


def test_collapse_exact_same_partitions(spark, fixture_df):
    """collapse_exact must not change the clustering, only its cost: compare
    cluster *partitions* (labels may differ — collapsed ids are rep-mins)."""
    cfg = LinkageConfig()
    small = fixture_df.limit(400).drop("group_id")
    a = run_linkage(small, cfg, persist=False)
    b = run_linkage(small, cfg, persist=False, collapse_exact=True)

    def partitions(clusters):
        rows = clusters.select("rid", "cluster_id").collect()
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], set()).add(r["rid"])
        return {frozenset(v) for v in by_cluster.values()}

    assert partitions(a.clusters) == partitions(b.clusters)


def test_embedding_blend_scores_and_edges(spark, fixture_df):
    """run_linkage(use_embeddings=True): every scored pair's f_cos is the
    numpy cosine of the two records' embeddings, its score is the
    weight-normalized lev/jac/cos blend, and the edges are exactly the pairs
    at or above the threshold."""
    cfg = LinkageConfig()
    small = fixture_df.limit(300).drop("group_id")
    run = run_linkage(small, cfg, use_embeddings=True, persist=False)
    emb = {
        r["rid"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in run.records.select("rid", "embedding").collect()
    }
    scored = run.scored.collect()
    assert len(scored) > 100  # non-degenerate
    w_l, w_j, w_c = cfg.w_lev, cfg.w_jac, cfg.w_cos
    for r in scored:
        e1, e2 = emb[r["id1"]], emb[r["id2"]]
        cos = float(e1 @ e2 / (np.linalg.norm(e1) * np.linalg.norm(e2)))
        assert r["f_cos"] == pytest.approx(cos, abs=1e-12)
        blend = (w_l * r["f_lev"] + w_j * r["f_jac"] + w_c * r["f_cos"]) / (w_l + w_j + w_c)
        assert r["score"] == pytest.approx(blend, abs=1e-12)
    expect = {(r["id1"], r["id2"]) for r in scored if r["score"] >= cfg.score_threshold}
    assert expect  # the threshold accepts something
    assert {(r["id1"], r["id2"]) for r in run.edges.collect()} == expect


def test_null_content_rows_keep_their_cluster_rows(spark):
    """Review regression gate: a null-content row must keep its cluster_id
    through BOTH collapse modes — the exact-collapse representative and the
    exact-remap keeper are equi-joins on a content hash, and an un-coalesced
    null key would silently drop the row (a window kept a null partition)."""
    cols = ["repo", "path", "commit", "lang", "content"]
    rows = [
        ("r", "a.py", "c1", "py", "def f(): return 1"),
        ("r", "b.py", "c1", "py", "def f(): return 1"),
        ("r", "c.py", "c1", "py", None),
        ("r", "d.py", "c1", "py", None),
    ]
    df = spark.createDataFrame(rows, cols)
    for collapse in (False, True):
        run = run_linkage(df, LinkageConfig(), persist=False, collapse_exact=collapse)
        assert run.clusters.count() == 4, f"collapse_exact={collapse} dropped rows"


@pytest.mark.parametrize("cc_local_finish_max_edges", [None, 0])
def test_release_frees_every_rdd_the_run_holds(
    spark, fixture_df, monkeypatch, cc_local_finish_max_edges
):
    """LinkageRun.release frees the run's caches AND its checkpoints
    (unpersist and clearCache leave localCheckpoint blocks resident): after
    it, none of the RDDs the run added is in getPersistentRDDs. Covered on
    both CC paths, the one-task union-find and the distributed rounds."""
    import bela_spark.operators.cc as cc_mod

    if cc_local_finish_max_edges is not None:
        monkeypatch.setattr(cc_mod, "CC_LOCAL_FINISH_MAX_EDGES", cc_local_finish_max_edges)
    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    small = fixture_df.drop("group_id").limit(300)
    run = run_linkage(small, LinkageConfig.at_scale(), collapse_exact=True)
    assert run.scored.count() > 0
    assert run.clusters.count() == 300
    assert persistent() - before, "the run holds no cache or checkpoint"
    run.release()
    assert not persistent() - before


def test_counts_gate_reads_its_numbers_off_one_cut(spark, fixture_df, monkeypatch):
    """The counts gate is one observed cut of the key counts: the eager part
    of run_linkage before CC (records cut, counts gate, pair-stage input
    cut) runs 9 jobs on this fixture, where two caches plus a first()
    ran 11. CC is stubbed lazy so only the gate's side is counted."""
    from conftest import jobs_run

    import bela_spark.pipeline as pipeline_mod
    from bela_spark.operators.cc import CCResult

    def lazy_cc(edges, **_):
        return CCResult(
            edges.select(F.col("id1").alias("rid"), F.col("id2").alias("component")),
            rounds=0,
            converged=True,
        )

    monkeypatch.setattr(pipeline_mod, "connected_components", lazy_cc)
    run, jobs = jobs_run(
        spark, lambda: run_linkage(fixture_df.drop("group_id"), LinkageConfig())
    )
    run.release()
    assert jobs <= 9


def test_every_run_frame_counts_before_release(spark):
    """Every DataFrame a LinkageRun hands out reads until release(): none may
    sit on a cut the pass has already freed (a read of one fails loud with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from dataclasses import fields

    from pyspark.sql import DataFrame

    run = run_linkage(synth_repo_files(spark, 400), LinkageConfig.at_scale(), collapse_exact=True)
    try:
        frames = {
            f.name: getattr(run, f.name)
            for f in fields(run)
            if isinstance(getattr(run, f.name), DataFrame)
        }
        frames["cc.assignments"] = run.cc.assignments
        counts = {name: df.count() for name, df in frames.items()}
    finally:
        run.release()
    assert len(frames) == 9, sorted(frames)
    assert counts["records"] == counts["clusters"] == 400
