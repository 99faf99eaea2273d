"""MinHash / LSH-band / SimHash primitives (SURVEY.md J1, dedup family).

The reference bounds its candidate space with a FAISS inner-product index
(bela/task/joint_el_task.py:513-523, 596-603). The Spark-native bound is
locality-sensitive hashing expressed as *columns*: md5-based minhashes over
token shingles, grouped into band keys that become equi-join keys. md5 is used
(not xxhash64) so the DuckDB oracle reproduces every value bit-for-bit; at
cluster scale the md5 cost is negligible next to the shuffle it saves.

All operators here are DataFrame -> DataFrame with only built-in functions —
the explode/groupBy shapes give Catalyst partial aggregation (map-side combine
of the per-seed min) for free.

Why the key-gen functions write Spark SQL text (F.expr / selectExpr)
instead of composing F.* calls: every F.* call is three py4j round trips
from Python to the JVM (two reflection lookups and the call), and every
argument is more. Key-gen is a few hundred such calls — 16 minhash
aggregates, 4 band structs, the shingle lambda — so composing it the F.* way
cost ~1,500 round trips, about a quarter of a second per linkage pass or
ingest micro-batch on a 4-core box, paid again on every repeat because
nothing is cached. SQL text is parsed in the JVM in one call per expression and
analyses to the same expressions, so the plans are unchanged. Literals must
keep their F.lit types: doubles are written `1.0D` (bare `1.0` is a
DECIMAL in Spark SQL) and longs `0L`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def minhash_wide(
    df: DataFrame,
    id_col: str = "rid",
    shingles_col: str = "shingles",
    num_hashes: int = 16,
) -> DataFrame:
    """(id, mh0..mh{n-1}): per-seed minimum of md5(shingle '#' seed).

    Equivalent to num_hashes independent permutations. One explode of distinct
    shingles, then num_hashes min() aggregates in a single groupBy — min is a
    partial aggregate, so the shuffle carries exactly one num_hashes-column
    row per record regardless of document length (no seed explode).
    """
    sh = df.selectExpr(id_col, f"explode(array_distinct({shingles_col})) AS shingle")
    aggs = [
        F.expr(f"min(md5(concat_ws('#', shingle, '{s}'))) AS mh{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "rid",
    shingles_col: str = "shingles",
    num_hashes: int = 16,
) -> DataFrame:
    """(id, seed, mh): exploded view of minhash_wide (for queries/oracles)."""
    wide = minhash_wide(df, id_col, shingles_col, num_hashes)
    structs = ", ".join(f"struct({s} AS seed, mh{s} AS mh)" for s in range(num_hashes))
    return wide.selectExpr(id_col, f"explode(array({structs})) AS x").selectExpr(
        id_col, "x.seed AS seed", "x.mh AS mh"
    )


def band_keys(
    wide: DataFrame,
    id_col: str = "rid",
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """(id, band, band_key): md5 over each band's ordered minhashes, computed
    straight from the wide signature columns (narrow, no shuffle).

    Records sharing any band key become candidate pairs — the LSH OR-of-ANDs
    construction. band_key strings are uniform-random, so the downstream
    equi-join keys are naturally well-distributed except for true mega-groups
    (handled by the chained tier in operators/scoring.py).
    """
    assert num_hashes % band_size == 0, "num_hashes must be divisible by band_size"
    n_bands = num_hashes // band_size

    def band(b: int) -> str:
        mhs = ", ".join(f"mh{b * band_size + i}" for i in range(band_size))
        return f"struct({b} AS band, md5(concat_ws('|', {mhs})) AS band_key)"

    bands = ", ".join(band(b) for b in range(n_bands))
    return wide.selectExpr(id_col, f"explode(array({bands})) AS x").selectExpr(
        id_col, "x.band AS band", "x.band_key AS band_key"
    )


# hex digits whose nibble has bit 3 set (value 8) / bit 2 set (value 4):
# two independent hash bits per md5 nibble, 64 available over 32 hex chars.
_NIBBLE_HIGH = list("89abcdef")
_NIBBLE_BIT2 = list("4567cdef")


def simhash_fp(tokens_col: Column | str, bits: int = 63) -> Column:
    """SimHash of a token array as a non-negative BIGINT of `bits` bits.

    Bit b of the fingerprint is the majority vote over tokens of one hash
    bit of md5(token): nibble (b mod 32)'s HIGH bit for b < 32 and its
    BIT-2 for b >= 32 — 64 independent bits available from one md5; 63 are
    used by default so the fingerprint stays a non-negative signed BIGINT
    (r2 shipped 32 bits, whose 7 hamming<=6 blocks were only 4-5 bits wide
    => ~16-32 buckets per block => a near-quadratic blocked join; 63 bits
    give 9-bit blocks = 512 buckets each). The nibble-char formulation keeps
    the arithmetic pure string ops — JVM-side higher-order functions here,
    and the identical expression in the SQL oracle.
    """
    assert 1 <= bits <= 63
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    hashes = F.transform(t, F.md5)

    def vote(h: Column, b: Column) -> Column:
        ch = h.substr(F.when(b < 32, b + 1).otherwise(b - 31), F.lit(1))
        hit = F.when(b < 32, ch.isin(_NIBBLE_HIGH)).otherwise(ch.isin(_NIBBLE_BIT2))
        return F.when(hit, 1).otherwise(-1)

    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda b: F.aggregate(hashes, F.lit(0), lambda acc, h: acc + vote(h, b)),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            # F.shiftleft needs a Python-int bit count; pow(2, b) is exact for
            # b <= 62 in doubles and accepts a Column exponent
            lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash32(tokens_col: Column | str) -> Column:
    """32-bit SimHash (bits 0..31 of simhash_fp — identical vote bits)."""
    return simhash_fp(tokens_col, bits=32)


def hamming32(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 32-bit fingerprints (bit_count of xor)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))
