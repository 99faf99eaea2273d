"""Connected components: correctness, convergence, checkpoint/resume (C1-C6)."""

import glob
import json
import os

from bela_spark.operators import cc
from bela_spark.operators.cc import connected_components, latest_round


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["id1", "id2"])


def _comp_map(result):
    return {r["rid"]: r["component"] for r in result.assignments.collect()}


def test_simple_components(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    res = connected_components(e)
    m = _comp_map(res)
    assert m == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert res.converged


def test_long_chain(spark):
    """A path graph stresses the iterative star rounds (diameter > 1)."""
    ids = [f"n{i:02d}" for i in range(12)]
    e = _edges(spark, list(zip(ids, ids[1:])))
    res = connected_components(e)
    m = _comp_map(res)
    assert set(m.values()) == {"n00"}
    assert len(m) == 12 and res.converged


def test_two_cliques_bridge(spark):
    c1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    c2 = [("b1", "b2"), ("b2", "b3")]
    res = connected_components(_edges(spark, c1 + c2 + [("a3", "b1")]))
    m = _comp_map(res)
    assert set(m.values()) == {"a1"}


def test_checkpoint_and_resume(spark, tmp_path):
    """Kill-after-round-k resume must yield identical assignments (north rule)."""
    ckpt = str(tmp_path / "cc")
    ids = [f"n{i:02d}" for i in range(10)]
    e = _edges(spark, list(zip(ids, ids[1:])))

    full = connected_components(e, checkpoint_dir=ckpt)
    want = _comp_map(full)
    rounds = latest_round(ckpt)
    assert rounds is not None and rounds >= 1

    # manifests carry per-partition lineage
    with open(os.path.join(ckpt, "manifest_round_0.json")) as f:
        man = json.load(f)
    assert {"round", "n_edges", "edge_set_hash", "partitions"} <= set(man)

    # simulate a crash: drop the newest rounds, keep round 0
    for p in glob.glob(os.path.join(ckpt, "round=*")):
        if int(p.split("=")[1]) > 0:
            import shutil

            shutil.rmtree(p)
    for p in glob.glob(os.path.join(ckpt, "manifest_round_*.json")):
        if int(p.rsplit("_", 1)[1].split(".")[0]) > 0:
            os.remove(p)
    assert latest_round(ckpt) == 0

    # resume from the surviving checkpoint; edges arg is ignored past round 0
    resumed = connected_components(e, checkpoint_dir=ckpt, resume=True)
    assert _comp_map(resumed) == want


def test_resume_rejects_different_input(spark, tmp_path):
    """Resuming against a DIFFERENT input edge set must not return the stale
    checkpoint's components (manifest input_sig binding, ADVICE r1)."""
    ckpt = str(tmp_path / "cc2")
    e1 = _edges(spark, [("a", "b"), ("c", "d")])
    first = connected_components(e1, checkpoint_dir=ckpt)
    assert _comp_map(first) == {"a": "a", "b": "a", "c": "c", "d": "c"}

    with open(os.path.join(ckpt, "manifest_round_0.json")) as f:
        assert "input_sig" in json.load(f)

    # new input joins the two components; a stale resume would miss the edge
    e2 = _edges(spark, [("a", "b"), ("c", "d"), ("b", "c")])
    second = connected_components(e2, checkpoint_dir=ckpt, resume=True)
    assert set(_comp_map(second).values()) == {"a"}


def test_empty_edges(spark):
    e = spark.createDataFrame([], "id1 string, id2 string")
    res = connected_components(e)
    assert res.assignments.count() == 0


# --- round-6 execution strategies (union-find local finish, surrogate-long
# rounds, settled-star frontier split) must all produce identical components -


def _chain_plus_cliques(spark):
    """A graph mixing long chains (diameter stress) with cliques and
    singleton pairs — enough structure that the distributed loop needs
    several rounds and the frontier split has settled stars to peel."""
    edges = []
    ids = [f"c{i:03d}" for i in range(40)]
    edges += list(zip(ids, ids[1:]))                     # one 40-node chain
    for g in range(6):                                   # six 4-cliques
        mem = [f"k{g}{j}" for j in range(4)]
        edges += [(a, b) for i, a in enumerate(mem) for b in mem[i + 1:]]
    edges += [(f"p{i}a", f"p{i}b") for i in range(10)]   # ten isolated pairs
    return _edges(spark, edges)


def test_local_finish_equals_distributed_rounds(spark, monkeypatch):
    """Default path (union-find local finish) == forced distributed star
    rounds (CC_LOCAL_FINISH_MAX_EDGES = 0) on the same graph."""
    e = _chain_plus_cliques(spark)
    fast = connected_components(e)
    monkeypatch.setattr(cc, "CC_LOCAL_FINISH_MAX_EDGES", 0)
    slow = connected_components(e)
    assert fast.converged and slow.converged
    assert _comp_map(fast) == _comp_map(slow)


def test_mid_loop_local_finish(spark, monkeypatch):
    """A bound between 0 and the input size forces: distributed round(s) on
    surrogate longs + frontier split, THEN the union-find on the residue."""
    e = _chain_plus_cliques(spark)
    monkeypatch.setattr(cc, "CC_LOCAL_FINISH_MAX_EDGES", 0)
    want = _comp_map(connected_components(e))
    monkeypatch.setattr(cc, "CC_LOCAL_FINISH_MAX_EDGES", 30)
    mid = connected_components(e)
    assert mid.converged
    assert _comp_map(mid) == want


def test_checkpoint_local_finish_round_is_resumable(spark, tmp_path, monkeypatch):
    """The checkpointed path persists the union-find round like any other
    round; a resume from it must confirm the fixed point and return the
    identical assignments."""
    ckpt = str(tmp_path / "cc_r6")
    e = _chain_plus_cliques(spark)
    full = connected_components(e, checkpoint_dir=ckpt)
    want = _comp_map(full)
    assert full.converged
    resumed = connected_components(e, checkpoint_dir=ckpt, resume=True)
    assert _comp_map(resumed) == want
    # and with the local finish disabled the same checkpoint semantics hold
    ckpt2 = str(tmp_path / "cc_r6_dist")
    monkeypatch.setattr(cc, "CC_LOCAL_FINISH_MAX_EDGES", 0)
    dist = connected_components(e, checkpoint_dir=ckpt2)
    assert _comp_map(dist) == want


def test_local_path_on_raw_edges_equals_distributed(spark, monkeypatch):
    """The single-task path reads the caller's edges as they are —
    duplicates, both orientations, a node whose only edge is a self-loop —
    and gives the distributed path's rows: no row for the self-loop-only
    node, and the same round count."""
    e = _edges(
        spark,
        [("b", "a"), ("a", "b"), ("a", "b"), ("a", "c"), ("c", "a"),
         ("z", "z"), ("e", "d"), ("d", "e"), ("d", "d")],
    )

    def rows(res):
        return sorted((r["rid"], r["component"]) for r in res.assignments.collect())

    local = connected_components(e)
    monkeypatch.setattr(cc, "CC_LOCAL_FINISH_MAX_EDGES", 0)
    dist = connected_components(e)
    want = [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")]
    assert rows(local) == rows(dist) == want
    assert local.rounds == dist.rounds == 1
    assert local.converged and dist.converged


def test_local_path_cuts_once_and_counts_on_the_cut(spark):
    """Below the bound CC takes one cut of the raw edges, whose count is
    observed on the cut itself: building the result runs only that cut's
    jobs, and reading the assignments adds one single-task job."""
    from conftest import jobs_run

    e = _chain_plus_cliques(spark)
    res, built = jobs_run(spark, lambda: connected_components(e))
    _, plain_cut = jobs_run(spark, lambda: e.localCheckpoint())
    assert built == plain_cut
    assert len(res.checkpoints) == 1
    _, read = jobs_run(spark, lambda: res.assignments.collect())
    assert read == 1
