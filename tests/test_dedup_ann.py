"""Dedup + ANN operator tests (golden behavior on handcrafted inputs)."""

import pytest
from pyspark.sql import functions as F

from bela_spark.functions.hashing import simhash_fp
from bela_spark.functions.text import normalized, tokens_of
from bela_spark.operators.ann import brute_force_topk, lsh_topk, mrr, recall_at_k
from bela_spark.operators.dedup import simhash_near_pairs


def _records(spark, rows):
    df = spark.createDataFrame(rows, ["rid", "content"])
    return df.withColumn("norm", normalized("content")).withColumn(
        "tokens", tokens_of("norm")
    )


TEXT = "the quick brown fox jumps over the lazy dog and runs far away today"


def test_simhash_hamming_small_for_near_dups(spark):
    near = TEXT + " extra"
    far = "totally other words entirely unrelated list of tokens goes right here"
    recs = _records(spark, [("a", TEXT), ("b", near), ("c", far)])
    fp = recs.select("rid", simhash_fp("tokens").alias("simhash"))
    vals = {r["rid"]: r["simhash"] for r in fp.collect()}
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(vals["a"], vals["b"]) < ham(vals["a"], vals["c"])
    assert 0 <= vals["a"] < 2**63


def test_simhash_near_pairs_blocked_join(spark):
    recs = _records(spark, [("a", TEXT), ("b", TEXT), ("c", "unrelated thing")])
    fp = recs.select("rid", simhash_fp("tokens").alias("simhash"))
    out = {(r["id1"], r["id2"]): r["hamming"] for r in simhash_near_pairs(fp, 3).collect()}
    assert out == {("a", "b"): 0}


def test_simhash_near_pairs_complete_vs_brute_force(spark):
    """Pigeonhole completeness: blocking on max_hamming+1 bit-blocks must
    recover EVERY pair with hamming <= max_hamming (r1 shipped 2 halves,
    which only guarantees hamming <= 1). Brute-force join is the oracle."""
    import random

    rng = random.Random(42)
    vals = [rng.getrandbits(32) for _ in range(40)]
    # plant pairs at every hamming distance 1..8 (flip d distinct bits)
    for d in range(1, 9):
        base = rng.getrandbits(32)
        flipped = base
        for bit in rng.sample(range(32), d):
            flipped ^= 1 << bit
        vals += [base, flipped]
    fp = spark.createDataFrame(
        [(f"r{i:03d}", v) for i, v in enumerate(vals)], "rid string, simhash long"
    )
    for max_h in (3, 6):
        blocked = {
            (r["id1"], r["id2"], r["hamming"])
            for r in simhash_near_pairs(fp, max_hamming=max_h, bits=32).collect()
        }
        ham = lambda x, y: bin(x ^ y).count("1")
        ids = [f"r{i:03d}" for i in range(len(vals))]
        brute = {
            (ids[i], ids[j], ham(vals[i], vals[j]))
            for i in range(len(vals))
            for j in range(i + 1, len(vals))
            if ham(vals[i], vals[j]) <= max_h
        }
        assert blocked == brute, f"max_hamming={max_h}: {brute - blocked}"


def test_simhash_near_pairs_complete_63bit(spark):
    """Same pigeonhole-completeness property at the served width (63 bits,
    7 nine-bit blocks): planted flips at hamming 1..8 are fully recovered for
    max_hamming 6, and nothing beyond the bound leaks in."""
    import random

    rng = random.Random(7)
    vals = [rng.getrandbits(63) for _ in range(30)]
    for d in range(1, 9):
        base = rng.getrandbits(63)
        flipped = base
        for bit in rng.sample(range(63), d):
            flipped ^= 1 << bit
        vals += [base, flipped]
    fp = spark.createDataFrame(
        [(f"r{i:03d}", v) for i, v in enumerate(vals)], "rid string, simhash long"
    )
    blocked = {
        (r["id1"], r["id2"], r["hamming"])
        for r in simhash_near_pairs(fp, max_hamming=6, bits=63).collect()
    }
    ham = lambda x, y: bin(x ^ y).count("1")
    ids = [f"r{i:03d}" for i in range(len(vals))]
    brute = {
        (ids[i], ids[j], ham(vals[i], vals[j]))
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if ham(vals[i], vals[j]) <= 6
    }
    assert blocked == brute


def test_simhash_block_cap_and_drop_log(spark):
    """block_cap keeps the lowest `cap` ids per block key and the drop log
    reports exactly what was cut — never silent. 5 identical fingerprints
    with cap 3 => pairs only among the 3 lowest ids, and each of the 7 block
    keys logs n_ids=5, n_dropped=2."""
    from bela_spark.operators.dedup import simhash_block_drops

    fp = spark.createDataFrame(
        [(f"r{i}", 12345) for i in range(5)], "rid string, simhash long"
    )
    pairs = {
        (r["id1"], r["id2"])
        for r in simhash_near_pairs(fp, max_hamming=6, bits=63, block_cap=3).collect()
    }
    assert pairs == {("r0", "r1"), ("r0", "r2"), ("r1", "r2")}
    drops = simhash_block_drops(fp, max_hamming=6, bits=63, block_cap=3).collect()
    assert len(drops) == 7
    assert all(r["n_ids"] == 5 and r["n_dropped"] == 2 for r in drops)


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.1, 0.9, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_brute_force_topk_exact(spark):
    e = _emb(spark)
    out = brute_force_topk(e, e, k=1)
    top1 = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    assert top1[0] == 1 and top1[1] == 0 and top1[2] == 3 and top1[3] == 2


def test_recall_and_mrr(spark):
    e = _emb(spark)
    topk = brute_force_topk(e, e, k=2)
    r = recall_at_k(topk, e.select("vec_id", "label"), ks=(1, 2)).collect()[0]
    # vecs 0-3 retrieve their same-label twin at rank 1; vec 4 has no twin
    assert r["recall_at_1"] == pytest.approx(4 / 5)
    m = mrr(topk, e.select("vec_id", "label")).collect()[0]
    assert m["mrr"] == pytest.approx(1.0)  # over queries WITH a hit
    assert m["n_queries"] == 4


def test_lsh_topk_recall_vs_brute(spark):
    """LSH with enough tables must recover most of the exact top-1s."""
    import math

    rows = []
    for i in range(60):
        ang = (i // 2) * 0.2  # pairs of near-identical vectors
        jitter = 0.01 if i % 2 else 0.0
        rows.append((i, [math.cos(ang + jitter), math.sin(ang + jitter)], i // 2))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    exact = {(r["vec_id"], r["neighbor_id"]) for r in brute_force_topk(e, e, k=1).collect()}
    approx = {
        (r["vec_id"], r["neighbor_id"])
        for r in lsh_topk(e, k=1, n_planes=4, n_tables=8, dim=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_lsh_topk_cap_is_index_side_only(spark):
    """The bucket cap bounds who is OFFERED as a neighbor, never a vector's
    own candidate generation (ivf_topk parity): with 5 identical vectors in
    one bucket and cap=2, the two lowest ids are the only retrievable
    neighbors, but ALL five vectors still emit their own top-k rows —
    a symmetric cap (the r2 behavior) would silence v2..v4 entirely."""
    from bela_spark.operators.ann import lsh_topk

    vec = [1.0] * 8
    e = spark.createDataFrame(
        [(f"v{i}", vec) for i in range(5)],
        "vec_id string, embedding array<double>",
    )
    out = lsh_topk(e, k=5, n_planes=2, n_tables=1, dim=8, seed=1, bucket_cap=2)
    rows = out.collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    # every vector queries — none lost its own top-k
    assert set(by_query) == {f"v{i}" for i in range(5)}
    # offered neighbors come only from the capped index side (v0, v1)
    for q, ns in by_query.items():
        assert ns == {"v0", "v1"} - {q}
