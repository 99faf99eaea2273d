"""Golden-value unit tests for scalar functions, mirroring the reference's
golden-tensor transform tests (bela/tests/test_transforms.py)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from bela_spark.functions.strings import jaro_winkler, lev_sim
from bela_spark.functions.text import normalized, normalized_sql, shingles_of, tokens_of
from bela_spark.functions.vectors import cosine_sim, dot_product, embed_text


def test_normalized_and_tokens(spark):
    df = spark.createDataFrame(
        [("Def Foo(a, b):\n  return a+b*3",), ("",), ("  A  ",)], ["content"]
    )
    out = df.select(
        normalized("content").alias("n"), tokens_of(normalized_sql("content")).alias("t")
    ).collect()
    assert out[0]["n"] == "def foo a b return a b 3"
    assert out[0]["t"] == ["def", "foo", "a", "b", "return", "a", "b", "3"]
    assert out[1]["n"] == "" and out[1]["t"] == []
    assert out[2]["n"] == "a" and out[2]["t"] == ["a"]


def test_shingles(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"],), (["a", "b"],)], ["tokens"])
    out = df.select(shingles_of("tokens", 3).alias("s")).collect()
    assert out[0]["s"] == ["a b c", "b c d"]
    assert out[1]["s"] == ["a b"]  # short fallback: one whole-text shingle


def test_lev_sim_golden(spark):
    df = spark.createDataFrame([("kitten", "sitting"), ("abc", "abc"), ("", "")], ["a", "b"])
    out = df.select(lev_sim("a", "b").alias("s")).collect()
    assert out[0]["s"] == pytest.approx(1 - 3 / 7)
    assert out[1]["s"] == 1.0
    assert out[2]["s"] == 1.0


def test_jaro_winkler_golden():
    # classic textbook values
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-4)
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0


def test_jaro_winkler_batch_matches_scalar():
    """The vectorized batch kernel must agree exactly with the scalar
    reference implementation on random strings (within the 32-char bound)."""
    import random

    from bela_spark.functions.strings import jaro_winkler_batch

    rng = random.Random(7)
    alpha = "abcdef "
    cases = [("", ""), ("", "a"), ("a", ""), ("same", "same"),
             ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX")]
    for _ in range(500):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        cases.append((a, b))
    got = jaro_winkler_batch([c[0] for c in cases], [c[1] for c in cases])
    for (a, b), g in zip(cases, got):
        assert g == pytest.approx(jaro_winkler(a, b), abs=1e-12), (a, b)


def test_dot_and_cosine_match_numpy(spark):
    a = [1.0, 2.0, 3.0]
    b = [4.0, -5.0, 6.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    row = df.select(dot_product("a", "b").alias("d"), cosine_sim("a", "b").alias("c")).collect()[0]
    assert row["d"] == pytest.approx(np.dot(a, b))
    assert row["c"] == pytest.approx(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_embed_text_deterministic_unit_norm(spark):
    df = spark.createDataFrame([("def foo a b",), ("def foo a b",), ("other text",)], ["norm"])
    out = df.select(embed_text(32, 42)("norm").alias("e")).collect()
    v0, v1, v2 = (np.array(r["e"]) for r in out)
    assert np.allclose(v0, v1)           # deterministic
    assert not np.allclose(v0, v2)       # input-sensitive
    assert np.linalg.norm(v0) == pytest.approx(1.0)
    assert len(v0) == 32


def test_embed_matches_reference_formula(spark):
    """The UDF must equal the md5 bucket-count formula exactly."""
    text = "alpha beta alpha"
    dim, seed = 16, 42
    expect = np.zeros(dim)
    for tok in text.split(" "):
        h = int.from_bytes(hashlib.md5(f"{seed}:{tok}".encode()).digest()[:8], "big")
        expect[h % dim] += 1.0 if (h >> 32) & 1 else -1.0
    expect /= np.linalg.norm(expect)
    df = spark.createDataFrame([(text,)], ["norm"])
    got = np.array(df.select(embed_text(dim, seed)("norm").alias("e")).collect()[0]["e"])
    assert np.allclose(got, expect)
