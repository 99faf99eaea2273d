"""Near-duplicate pair operators (SURVEY.md SET family + training-data-
pipeline extensions): SimHash pairs over capped pigeonhole blocks and
embedding-cosine pairs.

All return plain DataFrames; every shape is an explode/groupBy/join
Catalyst can push down and re-plan. Exact and MinHash-LSH dedup are the
linkage pipeline's own stages (run_linkage's exact collapse and
operators/blocking.py); the query surface replays n-gram Jaccard and
SimHash fingerprints in bela_spark/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bela_spark.functions.hashing import hamming32
from bela_spark.functions.vectors import cosine_sim


def simhash_blocks(bits: int, max_hamming: int) -> list[tuple[int, int, int]]:
    """(block_index, shift, mask) triples splitting `bits` into max_hamming+1
    near-equal blocks. Pigeonhole: two fingerprints within hamming h differ in
    at most h blocks, so they agree EXACTLY on >= 1 of the h+1 blocks — the
    blocking is complete for hamming <= max_hamming (pytest proves this
    against a brute-force hamming join). Shared with the DuckDB oracle."""
    n_blocks = max_hamming + 1
    base, rem = divmod(bits, n_blocks)
    widths = [base + 1 if i < rem else base for i in range(n_blocks)]
    out, start = [], 0
    for i, w in enumerate(widths):
        out.append((i, start, (1 << w) - 1))
        start += w
    return out


def _simhash_block_keys(
    fingerprints: DataFrame, max_hamming: int, id_col: str, bits: int
) -> DataFrame:
    """(id, simhash, hkey): one row per (record, bit-block) — the exploded
    equi-join key space of the pigeonhole blocking."""
    keys = [
        F.concat(
            F.lit(f"b{i}:"),
            F.shiftright(F.col("simhash"), s).bitwiseAND(F.lit(m)).cast("string"),
        )
        for i, s, m in simhash_blocks(bits, max_hamming)
    ]
    return fingerprints.select(
        id_col, "simhash", F.explode(F.array(*keys)).alias("hkey")
    )


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    id_col: str = "rid",
    bits: int = 63,
    block_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming <= max_hamming, blocked on max_hamming+1
    bit-blocks (see simhash_blocks) — each block is an equi-join key, so the
    all-pairs comparison never materializes AND the claimed hamming bound is
    actually complete (r1 shipped 2 blocks, which pigeonhole only guarantees
    for hamming <= 1).

    block_cap bounds the fan-out of hot block keys: within each hkey only the
    `block_cap` lowest ids survive (deterministic, lowest-ids-win — same rule
    as pairs.cap_keys), so one key emits at most C(cap,2) join rows. Capped
    blocking is no longer pigeonhole-complete for members beyond the cap —
    use simhash_block_drops for the never-silent truncation log. None = no
    cap (completeness holds; small inputs / the pytest oracle only)."""
    halves = _simhash_block_keys(fingerprints, max_hamming, id_col, bits)
    if block_cap is not None:
        from bela_spark.operators.pairs import cap_ids_per_key

        halves = cap_ids_per_key(halves, block_cap, key_col="hkey", id_col=id_col)
    a, b = halves.alias("a"), halves.alias("b")
    return (
        a.join(b, "hkey")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            hamming32(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_block_drops(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    id_col: str = "rid",
    bits: int = 63,
    block_cap: int = 64,
) -> DataFrame:
    """(key, n_ids, n_dropped): every simhash block key the cap truncates —
    the drop log that keeps simhash_near_pairs' block_cap never-silent
    (delegates to pairs.key_drop_log — one contract for every cap)."""
    from bela_spark.operators.pairs import key_drop_log

    halves = _simhash_block_keys(fingerprints, max_hamming, id_col, bits)
    return key_drop_log(halves, block_cap, key_col="hkey")


def embedding_near_dup_pairs(
    embedded: DataFrame,
    min_cosine: float = 0.9,
    id_col: str = "rid",
    emb_col: str = "embedding",
    block_keys: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dups. With block_keys (id, key) the pair space is
    bounded by the blocking join; without, it degrades to a broadcast
    self-join (small inputs only — callers at scale must pass keys)."""
    e = embedded.select(F.col(id_col), F.col(emb_col))
    if block_keys is not None:
        k1 = block_keys.withColumnRenamed(id_col, "id1")
        k2 = block_keys.withColumnRenamed(id_col, "id2")
        pairs = (
            k1.join(k2, "key")
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
    else:
        a = e.select(F.col(id_col).alias("id1"))
        b = e.select(F.col(id_col).alias("id2"))
        pairs = F.broadcast(a).crossJoin(b).filter(F.col("id1") < F.col("id2"))
    j = (
        pairs.join(
            e.withColumnRenamed(id_col, "id1").withColumnRenamed(emb_col, "e1"), "id1"
        )
        .join(e.withColumnRenamed(id_col, "id2").withColumnRenamed(emb_col, "e2"), "id2")
        .withColumn("cosine", cosine_sim("e1", "e2"))
    )
    return j.filter(F.col("cosine") >= min_cosine).select("id1", "id2", "cosine")
