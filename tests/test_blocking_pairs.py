"""Blocking keys + candidate-pair generation (SURVEY.md J1/J3)."""

import hashlib

from pyspark.sql import functions as F

from bela_spark.config import LinkageConfig
from bela_spark.functions.hashing import band_keys, minhash_signatures, minhash_wide
from bela_spark.operators.pairs import candidate_pairs_with_drops, cap_keys


def test_minhash_matches_pure_python(spark):
    """Per-seed min of md5(shingle#seed) — golden check vs hashlib."""
    shingles = ["a b c", "b c d", "c d e"]
    df = spark.createDataFrame([("r1", shingles)], ["rid", "shingles"])
    got = {
        r["seed"]: r["mh"]
        for r in minhash_signatures(df, num_hashes=4).collect()
    }
    for seed in range(4):
        expect = min(hashlib.md5(f"{s}#{seed}".encode()).hexdigest() for s in shingles)
        assert got[seed] == expect


def test_identical_docs_share_all_bands(spark):
    sh = ["x y z", "y z w"]
    df = spark.createDataFrame([("r1", sh), ("r2", sh), ("r3", ["q q q"])], ["rid", "shingles"])
    wide = minhash_wide(df, num_hashes=8)
    bk = band_keys(wide, num_hashes=8, band_size=4)
    k1 = {(r["band"], r["band_key"]) for r in bk.filter("rid='r1'").collect()}
    k2 = {(r["band"], r["band_key"]) for r in bk.filter("rid='r2'").collect()}
    k3 = {(r["band"], r["band_key"]) for r in bk.filter("rid='r3'").collect()}
    assert k1 == k2
    assert not (k1 & k3)


def _pairs_set(df):
    return {(r["id1"], r["id2"]) for r in df.collect()}


def test_salted_join_equals_plain_join(spark):
    """The S^2 salt grid must produce exactly the plain self-join pair set."""
    keys = spark.createDataFrame(
        [(f"r{i}", "hot") for i in range(30)] + [(f"r{i}", "cold") for i in range(5)],
        ["rid", "key"],
    )
    plain = candidate_pairs_with_drops(
        keys, LinkageConfig(hot_key_threshold=10_000), persist=False
    )[0]
    salted = candidate_pairs_with_drops(
        keys, LinkageConfig(hot_key_threshold=10, salt_buckets=4), persist=False
    )[0]
    assert _pairs_set(plain) == _pairs_set(salted)
    # every pair appears exactly once per key
    assert salted.groupBy("id1", "id2", "key").count().filter("count > 1").count() == 0


def test_cap_keys_logs_drops(spark):
    keys = spark.createDataFrame([(f"r{i}", "k") for i in range(50)], ["rid", "key"])
    kept, drops = cap_keys(keys, LinkageConfig(max_ids_per_key=20))
    assert kept.count() == 20
    d = drops.collect()
    assert len(d) == 1 and d[0]["n_dropped"] == 30  # never silent


def test_two_phase_cap_equals_single_phase(spark):
    """cap_ids_per_key's salted big-key path must keep EXACTLY the global
    lowest-`cap` ids per key (identical to a plain row_number cap). cap=3 with
    salt_buckets=2 puts every key above 6 members through the two-phase path;
    the 40-member key exercises it, the 4-member key takes the direct window."""
    from bela_spark.operators.pairs import cap_ids_per_key

    rows = [(f"r{i:03d}", "big") for i in range(40)] + [
        (f"s{i}", "small") for i in range(4)
    ]
    keys = spark.createDataFrame(rows, ["rid", "key"])
    got = {
        (r["key"], r["rid"])
        for r in cap_ids_per_key(keys, 3, salt_buckets=2).collect()
    }
    expect = {("big", f"r{i:03d}") for i in range(3)} | {
        ("small", f"s{i}") for i in range(3)
    }
    assert got == expect


def test_ranked_in_key_equals_window_rank(spark):
    """The two-phase range-partitioned rank must equal row_number over
    (partition by key order by norm, rid) — including keys that span many
    range chunks (num_partitions=8 over 2000 rows forces that)."""
    from pyspark.sql import Window as W

    from bela_spark.operators.pairs import ranked_in_key

    rows = []
    for i in range(1800):
        rows.append((f"m{i:05d}", "mega", f"content {i % 37:02d} tail {i:05d}"))
    for i in range(200):
        rows.append((f"x{i:04d}", f"k{i % 7}", f"other {i:04d}"))
    df = spark.createDataFrame(rows, ["rid", "key", "norm"])

    got = ranked_in_key(df, ("norm", "rid"), num_partitions=8)
    w = W.partitionBy("key").orderBy("norm", "rid")
    expect = df.withColumn("_cn", F.row_number().over(w))
    g = {(r["key"], r["rid"], r["_cn"]) for r in got.collect()}
    e = {(r["key"], r["rid"], r["_cn"]) for r in expect.collect()}
    assert g == e


def test_chained_pairs_identity_vs_window_form(spark):
    """The chained tier's emitted pair IDENTITIES (not just counts) must match
    the reference single-window form: sort the mega key by (norm, id), pair
    rank r with ranks r+1..r+w, canonicalize least/greatest."""
    from bela_spark.operators.pairs import keyed_with_counts
    from bela_spark.operators.scoring import fused_block_and_score

    rows = [
        (f"id{i:03d}", f"body {(i * 13) % 23:02d} var {i:03d}", ["t"])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["rid", "norm", "tokens"]).withColumn(
        "key", F.lit("mega")
    )
    cfg = LinkageConfig(hot_key_threshold=2, mega_key_threshold=4, chain_window=3)
    scored, _ = fused_block_and_score(keyed_with_counts(df), cfg)
    got = {(r["id1"], r["id2"]) for r in scored.select("id1", "id2").collect()}

    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    expect = set()
    for r in range(len(ordered)):
        for j in range(r + 1, min(r + 1 + cfg.chain_window, len(ordered))):
            a, b = ordered[r][0], ordered[j][0]
            expect.add((min(a, b), max(a, b)))
    assert got == expect


def test_ranked_in_key_all_ties_split_across_chunks(spark):
    """Adversarial mega key: every member shares an IDENTICAL norm (e.g. a
    64-char-prefix tie block), so the range partitioner can only separate
    rows by the trailing unique id — the id being part of the range key is
    what stops the whole tie block landing in one chunk. Ranks must still
    equal the single-window form."""
    from pyspark.sql import Window as W

    from bela_spark.operators.pairs import ranked_in_key

    df = spark.createDataFrame(
        [(f"r{i:05d}", "mega", "same prefix") for i in range(20000)],
        ["rid", "key", "norm"],
    )
    got = ranked_in_key(df, ("norm", "rid"), num_partitions=8)
    w = W.partitionBy("key").orderBy("norm", "rid")
    exp = df.withColumn("_w", F.row_number().over(w))
    joined = got.join(exp.select("rid", "_w"), "rid")
    # row-count first: a dropped chunk would shrink the inner join and make
    # the zero-mismatch assert below pass vacuously
    assert joined.count() == 20000
    assert joined.filter(F.col("_cn") != F.col("_w")).count() == 0
    # and the tie block genuinely spanned multiple chunks (non-vacuous):
    # re-derive the chunk spread from the range partitioning itself
    n_chunks = (
        df.repartitionByRange(8, F.col("key"), F.col("norm"), F.col("rid"))
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_chunks > 1, "tie block collapsed into one range chunk"


def test_keyed_with_counts_keeps_null_keys(spark):
    """A nullable key family must not vanish from the counted frame (ADVICE
    r4): F.concat propagates nulls, and the old plain equi-join dropped
    null-key rows that the pre-r4 count window kept in a null partition. The
    null-safe join must keep them, counted as one group."""
    from bela_spark.operators.pairs import keyed_with_counts

    df = spark.createDataFrame(
        [("r1", "k"), ("r2", "k"), ("r3", None), ("r4", None), ("r5", None)],
        ["rid", "key"],
    )
    got = {(r["rid"], r["key"], r["_kn"]) for r in keyed_with_counts(df).collect()}
    assert got == {
        ("r1", "k", 2),
        ("r2", "k", 2),
        ("r3", None, 3),
        ("r4", None, 3),
        ("r5", None, 3),
    }


def test_range_boundaries_partitioning_invariant(spark):
    """The boundary sample is a pure function of the DATA: the same rows must
    yield the same boundaries no matter how the input is partitioned or how
    many times the scan re-executes — this purity is what lets every plan
    branch recompute `_chunk` identically with no checkpoint (the r4
    spark_partition_id divergence cannot recur by construction)."""
    from bela_spark.operators.pairs import range_boundaries

    rows = [(f"r{i:05d}", "mega", f"content {i % 37:02d} tail {i:05d}") for i in range(3000)]
    a = spark.createDataFrame(rows, ["rid", "key", "norm"])
    b = spark.createDataFrame(rows, ["rid", "key", "norm"]).repartition(17, "rid")
    cols = ["key", "norm", "rid"]
    ba = range_boundaries(a, cols, 8, chunk_target_rows=200)
    bb = range_boundaries(b, cols, 8, chunk_target_rows=200)
    assert ba == bb
    assert 1 <= len(ba) <= 7
    assert ba == sorted(ba)
    # the r6 data-scaled cap: a 3000-row frame at the default 10k-row chunk
    # target needs no boundaries at all (one bounded chunk), and the cap
    # never raises the caller's n
    assert range_boundaries(a, cols, 8) == []
    assert len(range_boundaries(a, cols, 8, chunk_target_rows=1000)) <= 2


def test_ranked_in_key_null_order_col(spark):
    """Rows whose order column is null must still rank (nulls first, Spark's
    ascending default) — the chunk indicator treats a null comparison as
    'before every boundary', consistent with the window order."""
    from pyspark.sql import Window as W

    from bela_spark.operators.pairs import ranked_in_key

    rows = [(f"r{i:04d}", "k", None if i % 5 == 0 else f"n{i:04d}") for i in range(200)]
    df = spark.createDataFrame(rows, ["rid", "key", "norm"])
    got = ranked_in_key(df, ("norm", "rid"), num_partitions=6)
    w = W.partitionBy("key").orderBy("norm", "rid")
    exp = df.withColumn("_w", F.row_number().over(w))
    joined = got.join(exp.select("rid", "_w"), "rid")
    assert joined.count() == 200
    assert joined.filter(F.col("_cn") != F.col("_w")).count() == 0


def test_cap_and_rank_match_python_reference(spark):
    """Seeded randomized cases (skewed key sizes, heavy norm ties) checked
    against a plain-Python reference for both two-phase primitives: the cap
    must keep exactly the lowest-`cap` ids per key, the rank must equal the
    per-key (norm, rid) sort index — independently recomputed, not via
    another Spark window."""
    import random

    from bela_spark.operators.pairs import cap_ids_per_key, ranked_in_key

    rnd = random.Random(7)
    for _ in range(3):
        rows = []
        for k in range(rnd.randint(2, 5)):
            size = rnd.choice([1, 3, 7, 40, 130])
            for i in rnd.sample(range(100000), size):
                rows.append((f"r{i:06d}", f"k{k}", f"n{rnd.randint(0, 5):02d}"))
        df = spark.createDataFrame(rows, ["rid", "key", "norm"])
        cap, salt = rnd.choice([2, 5]), rnd.choice([2, 4])

        got_cap = {
            (r["key"], r["rid"])
            for r in cap_ids_per_key(df, cap, salt_buckets=salt).collect()
        }
        by_key = {}
        for rid, key, norm in rows:
            by_key.setdefault(key, []).append((rid, norm))
        exp_cap = {
            (key, rid)
            for key, members in by_key.items()
            for rid, _ in sorted(members)[:cap]
        }
        assert got_cap == exp_cap

        got_rank = {
            (r["key"], r["rid"]): r["_cn"]
            for r in ranked_in_key(df, ("norm", "rid"), num_partitions=4).collect()
        }
        exp_rank = {}
        for key, members in by_key.items():
            for idx, (rid, norm) in enumerate(
                sorted(members, key=lambda m: (m[1], m[0]))
            ):
                exp_rank[(key, rid)] = idx + 1
        assert got_rank == exp_rank


def test_keyed_with_counts_min_count_equals_post_filter(spark):
    """min_count=2 (the run_linkage pair-stage shape) must equal annotating
    everything and filtering _kn >= 2 afterwards — the build-side filter can
    never drop a row of a multi-member key."""
    from bela_spark.operators.pairs import keyed_with_counts

    rows = [("a", "k1"), ("b", "k1"), ("c", "k2"), ("d", "k3"), ("e", "k3"), ("f", "k3")]
    df = spark.createDataFrame(rows, ["rid", "key"])
    direct = {
        (r["rid"], r["key"], r["_kn"])
        for r in keyed_with_counts(df, min_count=2).collect()
    }
    post = {
        (r["rid"], r["key"], r["_kn"])
        for r in keyed_with_counts(df).filter(F.col("_kn") >= 2).collect()
    }
    assert direct == post
    assert {k for _, k, _n in direct} == {"k1", "k3"}
