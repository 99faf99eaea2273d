"""Embedding / vector-similarity kernels (SURVEY.md E-family).

E1 (encoder forward) becomes an Arrow-batched pandas UDF producing a
deterministic feature-hashing embedding: the reference's trained XLM-R encoder
(bela/models/hf_encoder.py:22-26) is unavailable and non-deterministic across
hardware, so the *operator* (batch text -> vector) is preserved while the
kernel is a seeded hashed-n-gram projection (SURVEY.md section 7 risk 1).

E5/E6 (dot products): `dot_product`/`cosine_sim` are zip_with + aggregate,
JVM-side, sequential accumulation — bit-identical to DuckDB's
list_inner_product, so a SQL oracle can cross-check values. The pair scorer
(operators/scoring.py) uses them inside the key join; the brute-force top-k
kernel (operators/ann.py) replays the same fold in numpy.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential-accumulation dot product of two array<float|double> columns."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(ca, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


# ---------------------------------------------------------------------------
# Deterministic feature-hashing text encoder (E1 analogue)
# ---------------------------------------------------------------------------

def _hash_embed_batch(texts: np.ndarray, dim: int, seed: int) -> np.ndarray:
    """token -> (bucket, sign) via md5; embedding = normalized bucket counts.

    Pure integer/md5 arithmetic: identical on every executor, every run, every
    parallelism level. Vocabulary caching keeps the md5 cost amortized within
    an Arrow batch.
    """
    cache: dict[str, tuple[int, float]] = {}
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, t in enumerate(texts):
        if not t:
            continue
        for tok in t.split(" "):
            bs = cache.get(tok)
            if bs is None:
                h = int.from_bytes(
                    hashlib.md5(f"{seed}:{tok}".encode()).digest()[:8], "big"
                )
                bs = (h % dim, 1.0 if (h >> 32) & 1 else -1.0)
                cache[tok] = bs
            out[i, bs[0]] += bs[1]
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def embed_text(dim: int = 64, seed: int = 42):
    """Factory for the Arrow-batched text-embedding pandas UDF (E1).

    Returns a Series->Series pandas UDF: normalized text -> array<double>.
    Cites: encoder forward bela/models/hf_encoder.py:22-26; batch transfer
    pattern bela/datamodule/joint_el_datamodule.py:224-232 (DataLoader batch
    == Arrow batch here).
    """

    @pandas_udf(ArrayType(DoubleType()))
    def _embed(texts: pd.Series) -> pd.Series:
        arr = _hash_embed_batch(texts.fillna("").to_numpy(dtype=object), dim, seed)
        return pd.Series(list(arr))

    return _embed
