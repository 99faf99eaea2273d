"""EL query-surface operators: windows, top-k pruning, interval merge, span
match, F1 — golden tests mirroring the reference's transform tests in spirit
(bela/tests/test_transforms.py pins exact outputs for fixed inputs)."""

import pytest

from bela_spark.operators.el import (
    bag_of_entities_f1,
    document_windows,
    merge_overlapping_spans,
    micro_prf1,
    span_match,
    topk_spans,
)


def test_document_windows_golden(spark):
    docs = spark.createDataFrame([("d1", "abcdefghij")], ["doc_id", "text"])
    out = sorted(
        (r["win_start"], r["win_text"])
        for r in document_windows(docs, window_size=4, overlap=2).collect()
    )
    # starts 1,3,5,7,9 step 2; substring clipped at the end
    assert out == [(1, "abcd"), (3, "cdef"), (5, "efgh"), (7, "ghij"), (9, "ij")]


def test_topk_spans_keeps_best_even_below_threshold(spark):
    spans = spark.createDataFrame(
        [("d1", 0, 5, 0.1), ("d1", 10, 5, 0.05), ("d2", 0, 5, 0.9)],
        ["doc_id", "offset", "length", "score"],
    )
    out = topk_spans(spans, k=50, threshold=0.5).collect()
    kept = {(r["doc_id"], r["offset"]) for r in out}
    # d1: all below threshold -> only rank-1 survives; d2: above threshold
    assert kept == {("d1", 0), ("d2", 0)}


def test_merge_overlapping_spans_golden(spark):
    spans = spark.createDataFrame(
        [
            ("d1", 1, 5, 0.3),   # run 1: [1,6) overlaps [4,9)
            ("d1", 4, 5, 0.9),
            ("d1", 20, 3, 0.5),  # run 2: disjoint
            ("d2", 2, 2, 0.1),
        ],
        ["doc_id", "offset", "length", "score"],
    )
    out = {(r["doc_id"], r["offset"], r["score"]) for r in merge_overlapping_spans(spans).collect()}
    assert out == {("d1", 4, 0.9), ("d1", 20, 0.5), ("d2", 2, 0.1)}


def test_merge_chained_overlap_reference_parity(spark):
    """merge_predictions updates current_end to EACH span's end even when the
    span is discarded (prediction_utils.py:119): A=[1,10) keeps the run, but
    B=[5,8) resets the chain end to 8, so C at offset 9 STARTS A NEW RUN even
    though it overlaps A. A running-max merge would swallow C."""
    spans = spark.createDataFrame(
        [("d", 1, 9, 0.9), ("d", 5, 3, 0.2), ("d", 9, 2, 0.5)],
        ["doc_id", "offset", "length", "score"],
    )
    out = {(r["offset"], r["score"]) for r in merge_overlapping_spans(spans).collect()}
    assert out == {(1, 0.9), (9, 0.5)}


def test_merge_equal_offset_and_tie_reference_parity(spark):
    """Reference sweep order is ascending (offset, length) — sorted() at
    prediction_utils.py:69 — and replacement is STRICTLY greater
    (prediction_utils.py:97). Two pinned consequences:

    1. (0,5),(0,2),(3,4): sweep (0,2)->(0,5)->(3,4) chains end 2->5->7, ONE
       merged run (a length-DESC sweep would break after (0,2) and emit two).
    2. score tie on overlapping (0,2) vs (0,5): strict > keeps first-seen,
       i.e. the SHORTEST at equal offset, not the longest."""
    spans = spark.createDataFrame(
        [("d", 0, 5, 0.4), ("d", 0, 2, 0.1), ("d", 3, 4, 0.2)],
        ["doc_id", "offset", "length", "score"],
    )
    out = {(r["offset"], r["length"], r["score"]) for r in merge_overlapping_spans(spans).collect()}
    assert out == {(0, 5, 0.4)}

    tie = spark.createDataFrame(
        [("d", 0, 5, 0.5), ("d", 0, 2, 0.5)],
        ["doc_id", "offset", "length", "score"],
    )
    out = {(r["offset"], r["length"]) for r in merge_overlapping_spans(tie).collect()}
    assert out == {(0, 2)}


def test_span_match_strong_semantics(spark):
    pred = spark.createDataFrame(
        [("d", 0, 3, "E1"), ("d", 10, 3, "E2"), ("d", 20, 3, "E9")],
        ["doc_id", "offset", "length", "ent_id"],
    )
    gold = spark.createDataFrame(
        [("d", 0, 3, "E1"), ("d", 10, 3, "EX"), ("d", 30, 3, "E3")],
        ["doc_id", "offset", "length", "ent_id"],
    )
    row = micro_prf1(span_match(pred, gold)).collect()[0]
    # (0,3): tp; (10,3): position match wrong entity -> fp+fn; (20,3): fp; (30,3): fn
    assert (row["tp"], row["fp"], row["fn"]) == (1, 2, 2)
    assert row["precision"] == pytest.approx(1 / 3)
    assert row["f1"] == pytest.approx(2 / (2 + 2 + 2))


def test_bag_of_entities_f1(spark):
    pred = spark.createDataFrame(
        [("d", 0, "E1"), ("d", 5, "E1"), ("d", 9, "E2")], ["doc_id", "offset", "ent_id"]
    )
    gold = spark.createDataFrame([("d", 0, "E1"), ("d", 3, "E3")], ["doc_id", "offset", "ent_id"])
    row = bag_of_entities_f1(pred, gold).collect()[0]
    # sets: pred {E1,E2}, gold {E1,E3} -> tp=1 fp=1 fn=1
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)

