"""At-scale IDF-weighted scorer (operators/idf.py + LinkageConfig.at_scale).

Covers: the anchored-log2 weight formula against a plain-Python reference,
empty-token-array survival, the weighted-jaccard kernel vs Python, staged-gate
exactness (the weight-sum ratio bound must never change the edge set), the
800-row pairwise-F1 gate with the at-scale config (the north-rule metric the
600k bench gate measures at scale), and the legacy-batched-path guard.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bela_spark.config import LinkageConfig
from bela_spark.fixtures import synth_repo_files
from bela_spark.operators.idf import weight_tokens, weighted_jaccard_cols
from bela_spark.pipeline import label_pairs, pairwise_f1, run_linkage


def _py_weight(n_docs: int, df: int) -> int:
    return max(1, (len(bin(n_docs)) - 2) - (len(bin(df)) - 2) + 1)


def test_weight_tokens_matches_python_reference(spark):
    rows = [
        ("a", ["x", "y", "z"]),
        ("b", ["x", "y"]),
        ("c", ["x"]),
        ("d", []),          # empty token set must survive with ws = 0
        ("e", ["q", "x"]),
    ]
    df = spark.createDataFrame(rows, ["rid", "tokens"])
    got = {r["rid"]: r for r in weight_tokens(df).collect()}
    n = len(rows)
    dfreq = {"x": 4, "y": 2, "z": 1, "q": 1}
    for rid, toks in rows:
        exp = sorted((t, _py_weight(n, dfreq[t])) for t in toks)
        assert [(s["t"], s["w"]) for s in got[rid]["tokens"]] == exp, rid
        assert got[rid]["ws"] == sum(w for _, w in exp)
    assert got["d"]["tokens"] == [] and got["d"]["ws"] == 0


def test_weighted_jaccard_matches_python(spark):
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        (f"r{i}", sorted(rng.sample(vocab, rng.randint(0, 12)))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["rid", "tokens"])
    tw = weight_tokens(df)
    a = tw.select(F.col("rid").alias("id1"), F.col("tokens").alias("t1"), F.col("ws").alias("s1"))
    b = tw.select(F.col("rid").alias("id2"), F.col("tokens").alias("t2"), F.col("ws").alias("s2"))
    bound, wjac = weighted_jaccard_cols()
    got = {
        (r["id1"], r["id2"]): (r["b"], r["j"])
        for r in a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", bound.alias("b"), wjac.alias("j"))
        .collect()
    }
    n = len(rows)
    dfreq: dict[str, int] = {}
    for _, toks in rows:
        for t in toks:
            dfreq[t] = dfreq.get(t, 0) + 1
    w = {t: _py_weight(n, c) for t, c in dfreq.items()}
    sets = {rid: set(toks) for rid, toks in rows}
    for (i1, i2), (gb, gj) in got.items():
        s1, s2 = sum(w[t] for t in sets[i1]), sum(w[t] for t in sets[i2])
        wi = sum(w[t] for t in sets[i1] & sets[i2])
        wu = s1 + s2 - wi
        exp_j = 1.0 if wu <= 0 else wi / wu
        exp_b = 1.0 if max(s1, s2) == 0 else min(s1, s2) / max(s1, s2)
        assert gj == pytest.approx(exp_j, abs=1e-12), (i1, i2)
        assert gb == pytest.approx(exp_b, abs=1e-12), (i1, i2)
        assert gj <= gb + 1e-12  # the O(1) bound really bounds


def test_packed_kernel_matches_struct_kernel(spark):
    """weight_tokens_packed + weighted_jaccard_packed_ix_staged, applied in
    its documented order (gated _ix, drop t1/t2, _wi, wjac), must reproduce
    the generic struct kernel EXACTLY (same integer operands, one final
    double division -> bit-equal floats) on integer token sets: the pair
    stage runs the packed form, the oracle-pinned er_idf_* queries run the
    struct form, and this equality is what ties the two together."""
    import random

    from bela_spark.operators.idf import (
        weight_tokens_packed,
        weighted_jaccard_packed_ix_staged,
    )

    rng = random.Random(13)
    rows = [
        (f"r{i}", sorted(rng.sample(range(1000), rng.randint(0, 15))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "rid string, tokens array<int>")

    def all_pairs(tw):
        a = tw.select(
            F.col("rid").alias("id1"), F.col("tokens").alias("t1"), F.col("ws").alias("s1")
        )
        b = tw.select(
            F.col("rid").alias("id2"), F.col("tokens").alias("t2"), F.col("ws").alias("s2")
        )
        return a.crossJoin(b).filter(F.col("id1") < F.col("id2"))

    def by_pair(scored):
        return {(r["id1"], r["id2"]): (r["b"], r["j"]) for r in scored.collect()}

    bound, wjac = weighted_jaccard_cols()
    got_struct = by_pair(
        all_pairs(weight_tokens(df)).select("id1", "id2", bound.alias("b"), wjac.alias("j"))
    )
    size_bound, ix_expr, wi_expr, wjac_expr = weighted_jaccard_packed_ix_staged()
    got_packed = by_pair(
        all_pairs(weight_tokens_packed(df))
        .withColumn("b", size_bound)
        # a gate every pair passes (the bound is never negative), so each
        # pair's value is compared
        .withColumn("_ix", F.when(F.col("b") >= F.lit(0.0), ix_expr))
        .drop("t1", "t2")
        .withColumn("_wi", wi_expr)
        .select("id1", "id2", "b", wjac_expr.alias("j"))
    )
    assert got_struct == got_packed
    assert len(got_packed) == 60 * 59 // 2


def test_staged_gate_is_exact_under_weighting(spark):
    """Edges from the gated staged scorer == edges from an ungated scorer:
    the weight-sum ratio bound may zero features only for pairs that could
    never reach the threshold."""
    fx = synth_repo_files(spark, 400, seed=11)
    cfg = LinkageConfig.at_scale()
    open_cfg = LinkageConfig.at_scale(score_threshold=-1.0)  # gate disabled
    run_g = run_linkage(fx, cfg, persist=False)
    run_o = run_linkage(fx, open_cfg, persist=False)
    edges_g = {(r["id1"], r["id2"]) for r in run_g.edges.collect()}
    ungated = {
        (r["id1"], r["id2"])
        for r in run_o.scored.filter(F.col("score") >= cfg.score_threshold).collect()
    }
    assert edges_g == ungated


def test_at_scale_f1_gate_800(spark):
    """North-rule pairwise F1 >= 0.99 with the at-scale weighted scorer at
    fixture scale (the bench's untimed gate measures the same metric at 600k).
    At threshold 0.52 the 800-row labeled-pair band is clean on this exact
    config (negatives max 0.4828, positives min 0.5253), so both the global
    and the per-key gate expect exactly zero errors."""
    cfg = LinkageConfig.at_scale()
    fx = synth_repo_files(spark, 800, seed=42, with_truth=True).cache()
    run = run_linkage(fx.drop("group_id"), cfg)
    truth = fx.selectExpr(
        "sha2(concat_ws('||', repo, path, commit), 256) as rid", "group_id"
    )
    labeled = label_pairs(run.pairs, truth)
    row = pairwise_f1(labeled, run.scored, cfg.score_threshold).collect()[0]
    assert row["f1"] >= 0.99, row.asDict()
    assert row["tp"] > 100
    per_key = pairwise_f1(labeled, run.scored, cfg.score_threshold, per_key=True)
    bad = per_key.filter((F.col("tp") + F.col("fn") >= 3) & (F.col("f1") < 0.99))
    assert bad.count() == 0, [r.asDict() for r in bad.limit(5).collect()]


def test_null_content_rows_survive_weighting(spark):
    """Rows with null/empty content keep their cluster rows through the
    weighted pipeline (empty weighted token set + ws=0, never dropped by the
    explode/join round-trip)."""
    rows = [
        ("r", "a.py", "c1", "py", "def f(): return 1"),
        ("r", "b.py", "c2", "py", None),
        ("r", "c.py", "c3", "py", ""),
    ]
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    cfg = LinkageConfig.at_scale()
    for collapse in (False, True):
        run = run_linkage(df, cfg, persist=False, collapse_exact=collapse)
        assert run.clusters.count() == 3, f"collapse={collapse}"


def test_weight_formula_anchoring():
    """Spot-check the quantized-IDF shape: df=1 gets the max weight,
    ubiquitous tokens get 1, monotone non-increasing in df."""
    n = 1_000_000
    ws = [_py_weight(n, d) for d in (1, 2, 10, 1000, n)]
    assert ws == sorted(ws, reverse=True)
    assert ws[0] == len(bin(n)) - 2  # floor(log2 N) + 1
    assert ws[-1] == 1
    assert _py_weight(n, 1) - _py_weight(n, 2) == 1  # one step per octave
    assert math.isclose(
        _py_weight(n, 1) - _py_weight(n, 1024), 10, abs_tol=0
    )


def test_packed_broadcast_fast_path_matches_legacy_dag(spark):
    """The r6 broadcast-vocabulary kernel must be row-for-row identical to
    the legacy explode/join/groupBy DAG, including the edge rows: null token
    array and empty array keep (empty packed array, ws=0); null ELEMENTS are
    ignored like the explode path ignores them."""
    from bela_spark.operators import idf

    rows = [
        ("r1", [5, 3, 900_000_001], "x"),
        ("r2", [3], "y"),
        ("r3", [], "z"),
        ("r4", None, "w"),
        ("r5", [7, None, 5], "v"),
    ]
    df = spark.createDataFrame(rows, "rid string, tokens array<int>, norm string")

    fast = idf.weight_tokens_packed(df, "rid", "tokens")
    assert "MapInPandas" in fast._jdf.queryExecution().executedPlan().toString(), (
        "tiny vocabulary must take the broadcast kernel"
    )
    saved = idf.IDF_BROADCAST_MAX_TOKENS
    idf.IDF_BROADCAST_MAX_TOKENS = 0
    try:
        legacy = idf.weight_tokens_packed(df, "rid", "tokens")
    finally:
        idf.IDF_BROADCAST_MAX_TOKENS = saved

    def snap(d):
        return {
            r["rid"]: (list(r["tokens"]), r["ws"], r["norm"]) for r in d.collect()
        }

    got_fast, got_legacy = snap(fast), snap(legacy)
    assert got_fast == got_legacy
    assert got_fast["r3"] == ([], 0, "z")
    assert got_fast["r4"] == ([], 0, "w")
    # r2's token 3 appears in 2 of 5 docs; packing = token*64 + w
    n_bits, df_bits = len(bin(5)) - 2, len(bin(2)) - 2
    w3 = max(1, n_bits - df_bits + 1)
    assert got_fast["r2"] == ([3 * 64 + w3], w3, "y")


def test_packed_broadcast_fast_path_gates_on_vocab_bound(spark):
    """Vocabulary above idf.IDF_BROADCAST_MAX_TOKENS must fall back to the
    legacy DAG (no Python node in the plan) with identical values."""
    from bela_spark.operators import idf

    rows = [(f"r{i}", [i * 3 + j for j in range(3)]) for i in range(10)]
    df = spark.createDataFrame(rows, "rid string, tokens array<int>")
    saved = idf.IDF_BROADCAST_MAX_TOKENS
    idf.IDF_BROADCAST_MAX_TOKENS = 5  # 30 distinct tokens > 5
    try:
        out = idf.weight_tokens_packed(df, "rid", "tokens")
        assert "MapInPandas" not in out._jdf.queryExecution().executedPlan().toString()
        got = {r["rid"]: (list(r["tokens"]), r["ws"]) for r in out.collect()}
    finally:
        idf.IDF_BROADCAST_MAX_TOKENS = saved
    ref = {
        r["rid"]: (list(r["tokens"]), r["ws"])
        for r in idf.weight_tokens_packed(df, "rid", "tokens").collect()
    }
    assert got == ref


def test_broadcast_vocab_lookup_fails_loud_on_unseen_token():
    """searchsorted alone would hand an unseen token its neighbour's slot
    (6 -> 7's, 8 -> one past the end); the kernel's lookup must raise."""
    import numpy as np

    from bela_spark.operators.idf import vocab_index

    vocab = np.array([3, 5, 7], dtype=np.int64)
    assert vocab_index(vocab, np.array([7, 3, 5, 3], dtype=np.int64)).tolist() == [2, 0, 1, 0]
    for unseen in ([5, 6], [8], [1, 3]):
        with pytest.raises(RuntimeError, match="not in the broadcast vocabulary"):
            vocab_index(vocab, np.array(unseen, dtype=np.int64))
    with pytest.raises(RuntimeError):
        vocab_index(np.empty(0, dtype=np.int64), np.array([1], dtype=np.int64))


def test_packed_broadcast_fast_path_schema_matches_legacy(spark, monkeypatch):
    """The output schema must not depend on which gate branch ran: with the
    id column NOT first, both paths emit (id, other columns, tokens, ws)."""
    from bela_spark.operators import idf

    df = spark.createDataFrame(
        [("a", "r1", [1, 2], 7), ("b", "r2", [2], 8)],
        "norm string, rid string, tokens array<int>, n int",
    )
    fast = idf.weight_tokens_packed(df, "rid", "tokens")
    assert "MapInPandas" in fast._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(idf, "IDF_BROADCAST_MAX_TOKENS", 0)
    legacy = idf.weight_tokens_packed(df, "rid", "tokens")
    assert legacy.columns == ["rid", "norm", "n", "tokens", "ws"]
    assert fast.dtypes == legacy.dtypes
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, legacy.collect()))


def test_packed_gate_is_one_aggregate_and_counts_empty_rows(spark, monkeypatch):
    """The broadcast gate takes N and the document frequencies from ONE
    aggregate job (N rides as the null token's row), and the kernel stays
    bit-identical to the legacy join DAG. Empty and null token arrays count
    toward N: 3 rows with tokens and 5 without make N = 8, whose bit length
    differs from N = 3's, so a gate that dropped them would move every
    weight; a null ELEMENT counts neither as a token nor as a document."""
    from conftest import jobs_run

    from bela_spark.operators import idf

    rows = [
        ("r1", [5, 3]),
        ("r2", [3]),
        ("r3", [7, None, 5]),
        ("r4", []),
        ("r5", None),
        ("r6", []),
        ("r7", None),
        ("r8", []),
    ]
    df = spark.createDataFrame(rows, "rid string, tokens array<int>")
    _, agg_jobs = jobs_run(spark, lambda: df.groupBy("rid").count().collect())
    fast, gate_jobs = jobs_run(spark, lambda: idf.weight_tokens_packed(df))
    assert "MapInPandas" in fast._jdf.queryExecution().executedPlan().toString()
    assert gate_jobs == agg_jobs
    monkeypatch.setattr(idf, "IDF_BROADCAST_MAX_TOKENS", 0)
    legacy = idf.weight_tokens_packed(df)

    def snap(d):
        return {r["rid"]: (list(r["tokens"]), r["ws"]) for r in d.collect()}

    got = snap(fast)
    assert got == snap(legacy)
    w = {t: _py_weight(8, d) for t, d in ((3, 2), (5, 2), (7, 1))}
    assert got["r1"] == ([3 * 64 + w[3], 5 * 64 + w[5]], w[3] + w[5])
    assert got["r3"] == ([5 * 64 + w[5], 7 * 64 + w[7]], w[5] + w[7])
    assert all(got[r] == ([], 0) for r in ("r4", "r5", "r6", "r7", "r8"))
