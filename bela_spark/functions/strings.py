"""String-similarity features for pairwise scoring (E8 analogue).

The reference scores (mention, entity) pairs with a learned MLP over
[m, e, m-e, m*e, md_score, dis_score] (bela/task/joint_el_task.py:52-80).
The rebuild replaces the learned head with a deterministic blend of
cosine + Levenshtein + Jaro-Winkler features (BASELINE.json north_star):
Levenshtein is a Spark built-in (JVM-side); Jaro-Winkler has no built-in, so
it is a numpy-vectorized Arrow pandas UDF — never per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def lev_sim_sql(a: str, b: str) -> str:
    """Normalized Levenshtein similarity in [0,1] as Spark SQL text over two
    SQL string expressions; JVM built-in, codegen'd."""
    denom = f"greatest(length({a}), length({b}))"
    return (
        f"CASE WHEN {denom} = 0 THEN 1.0D "
        f"ELSE 1.0D - levenshtein({a}, {b}) / CAST({denom} AS DOUBLE) END"
    )


def lev_sim(a: str, b: str) -> Column:
    """lev_sim_sql parsed into a Column."""
    return F.expr(lev_sim_sql(a, b))


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    t = 0
    j = 0
    for i in range(len1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """Plain-Python Jaro-Winkler (standard definition), used inside the UDF."""
    j = _jaro(s1, s2)
    prefix = 0
    for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
        if a != b:
            break
        prefix += 1
    return j + prefix * p * (1.0 - j)


# Bounded-prefix JW: inputs are truncated to this many chars (a deliberate
# O(L^2)-bound, NOT full-string JW). Matches LinkageConfig.lev_max_chars so
# the two bounded string features see the same prefix of the slimmed norms —
# r2 review fix: this was 32 while the lev feature used 64, silently changing
# JW values for 33-64 char norms.
JW_MAX_CHARS = 64


def jaro_winkler_batch(
    a, b, p: float = 0.1, max_prefix: int = 4, max_chars: int = JW_MAX_CHARS
) -> np.ndarray:
    """Numpy-vectorized Jaro-Winkler over two string sequences.

    Strings are truncated to max_chars (bounded-prefix feature, like
    lev_max_chars) and packed into (N, L) UCS4 code matrices via numpy's
    fixed-width unicode dtype — no per-row Python. The greedy Jaro matching
    loop runs over the L character POSITIONS, each step a whole-batch boolean
    matrix op; transpositions use cumsum-rank scatter. L adapts to the
    batch's longest string (capped at max_chars), so short-norm batches don't
    pay the full O(n*max_chars^2). Agrees exactly with the scalar
    `jaro_winkler` for inputs <= max_chars (tests/test_functions.py pins this
    on random strings).
    """
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    longest = max(max((len(x or "") for x in a), default=0),
                  max((len(x or "") for x in b), default=0))
    L = max(1, min(max_chars, longest))
    A = np.asarray(list(a), dtype=f"U{L}")
    B = np.asarray(list(b), dtype=f"U{L}")
    ca = A.view(np.uint32).reshape(n, L)
    cb = B.view(np.uint32).reshape(n, L)
    la = (ca != 0).sum(1)
    lb = (cb != 0).sum(1)
    mw = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    idx = np.arange(L)
    m1 = np.zeros((n, L), dtype=bool)
    m2 = np.zeros((n, L), dtype=bool)
    for i in range(L):
        lo = np.maximum(0, i - mw)
        hi = np.minimum(lb, i + mw + 1)
        cand = (
            (cb == ca[:, i : i + 1])
            & (ca[:, i : i + 1] != 0)
            & (idx >= lo[:, None])
            & (idx < hi[:, None])
            & ~m2
        )
        has = cand.any(1)
        j = cand.argmax(1)
        m2[has, j[has]] = True
        m1[has, i] = True
    matches = m1.sum(1)
    # k-th matched char of s1 vs k-th matched char of s2 (rank scatter)
    r1 = np.cumsum(m1, axis=1) - 1
    r2 = np.cumsum(m2, axis=1) - 1
    g1 = np.zeros((n, L), dtype=np.uint32)
    g2 = np.zeros((n, L), dtype=np.uint32)
    rows1, cols1 = np.nonzero(m1)
    g1[rows1, r1[rows1, cols1]] = ca[rows1, cols1]
    rows2, cols2 = np.nonzero(m2)
    g2[rows2, r2[rows2, cols2]] = cb[rows2, cols2]
    t = ((g1 != g2) & (g1 != 0)).sum(1) // 2
    safe_la = np.maximum(la, 1)
    safe_lb = np.maximum(lb, 1)
    safe_m = np.maximum(matches, 1)
    jaro = np.where(
        matches > 0,
        (matches / safe_la + matches / safe_lb + (matches - t) / safe_m) / 3.0,
        0.0,
    )
    jaro = np.where((la == 0) | (lb == 0), 0.0, jaro)
    jaro = np.where((ca == cb).all(1), 1.0, jaro)  # identical (incl. both empty)
    pref_eq = (ca[:, :max_prefix] == cb[:, :max_prefix]) & (ca[:, :max_prefix] != 0)
    cp = np.cumprod(pref_eq, axis=1).sum(1)
    return jaro + cp * p * (1.0 - jaro)


def make_jaro_winkler_udf(max_chars: int = JW_MAX_CHARS):
    """Factory for an Arrow-batched, numpy-vectorized BOUNDED-PREFIX
    Jaro-Winkler pandas UDF: inputs are truncated to `max_chars` before
    scoring, so values for longer strings differ from full-string JW.

    The bound is deliberate in the scoring path (O(L^2) cost cap matched to
    lev_max_chars), but it is a SEMANTIC choice, not an implementation
    detail — callers that need full-string JW must pass an explicit
    max_chars covering their longest input rather than relying on the
    default."""

    @pandas_udf(DoubleType())
    def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            jaro_winkler_batch(
                a.fillna("").to_numpy(dtype=object),
                b.fillna("").to_numpy(dtype=object),
                max_chars=max_chars,
            )
        )

    return _jw_udf


# Default bounded-prefix instance (first JW_MAX_CHARS=64 chars — see
# make_jaro_winkler_udf for the semantics of the bound).
jaro_winkler_udf = make_jaro_winkler_udf()
