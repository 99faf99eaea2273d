"""Focused r6 tests: the numpy brute-force top-k kernel must replay the legacy
crossJoin + interpreted-fold plan value-for-value (bit-identical ip_score,
identical tie-broken ranks), and degrade to the legacy plan on inputs the
kernel does not cover (ragged/null embeddings, broadcast_catalog=False)."""

import logging

import pytest
from pyspark.sql import Window as W, functions as F

from bela_spark.functions.vectors import dot_product
from bela_spark.operators import ann
from bela_spark.operators.ann import brute_force_topk


def _legacy_topk(queries, catalog, k, exclude_self=True):
    """The pre-r6 plan, verbatim: broadcast crossJoin + zip_with/aggregate
    fold + row_number window — the value contract the kernel must match."""
    q = queries.select(F.col("vec_id"), F.col("embedding").alias("qe"))
    c = F.broadcast(
        catalog.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    )
    pairs = q.crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("ip_score", dot_product("qe", "ce")).drop("qe", "ce")
    w = W.partitionBy("vec_id").orderBy(F.desc("ip_score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _rows(out):
    return sorted(
        (r["vec_id"], r["rank"], r["neighbor_id"], r["ip_score"]) for r in out.collect()
    )


def _tie_frame(spark, n=40, dim=8):
    """Deterministic vectors INCLUDING exact duplicates, so top-k tie-breaks
    (equal ip_score -> neighbor id ascending) are actually exercised."""
    rows = []
    for i in range(n):
        base = i % 10  # ids sharing (i % 10) have identical embeddings
        emb = [float(((base * 7 + j * 3) % 13) - 6) / 5.0 for j in range(dim)]
        rows.append((i, emb))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kernel_matches_legacy_bitwise(spark):
    e = _tie_frame(spark)
    for k in (1, 3, 50):  # k > catalog size covers the exhaustion path
        new = _rows(brute_force_topk(e, e, k=k))
        old = _rows(_legacy_topk(e, e, k))
        # exact equality, floats included: the kernel's left-to-right fold is
        # the same IEEE-754 op sequence as the JVM aggregate(zip_with(...))
        assert new == old, f"k={k}"


def test_kernel_matches_legacy_keep_self(spark):
    e = _tie_frame(spark, n=12)
    assert _rows(brute_force_topk(e, e, k=2, exclude_self=False)) == _rows(
        _legacy_topk(e, e, 2, exclude_self=False)
    )


def test_ragged_embeddings_fall_back_to_legacy_plan(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [1.0, 0.0, 0.0]), (3, None)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = brute_force_topk(e, e, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # kernel must refuse ragged input
    got = _rows(out)
    assert got == _rows(_legacy_topk(e, e, 2))


def test_nonbroadcast_keeps_legacy_plan(spark):
    e = _tie_frame(spark, n=8)
    plan = (
        brute_force_topk(e, e, k=1, broadcast_catalog=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan


def test_catalogue_above_bound_is_not_collected(spark, monkeypatch, caplog):
    """Above BROADCAST_CATALOG_MAX_ROWS the catalogue is neither collected
    nor broadcast: a warning names the count and the bound, the unhinted
    crossJoin plan runs, and its rows equal the kernel's bit for bit."""
    e = _tie_frame(spark)
    kernel = _rows(brute_force_topk(e, e, k=3))
    monkeypatch.setattr(ann, "BROADCAST_CATALOG_MAX_ROWS", 10)
    with caplog.at_level(logging.WARNING, logger=ann.__name__):
        out = brute_force_topk(e, e, k=3)
    assert "11+ rows" in caplog.text and "BROADCAST_CATALOG_MAX_ROWS=10" in caplog.text
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert _rows(out) == kernel
