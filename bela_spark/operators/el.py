"""Entity-linking query surface (SURVEY.md T13, W1/W3, J5/J6, A1/A2).

These are the reference's evaluation-side operators as standalone DataFrame
queries: document windowing, top-k span pruning, overlapping-prediction
interval merge, gold/pred span matching, and micro P/R/F1 — each shaped so an
ANSI-SQL oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def document_windows(
    docs: DataFrame,
    window_size: int = 100,
    overlap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, win_start, win_text): sliding character windows.

    T13 analogue (get_windows, bela/utils/prediction_utils.py:18-30): content
    chunking via sequence+explode+substring — a tumbling window over character
    index, not event time. win_start is 1-based (SQL substring convention).
    """
    step = window_size - overlap
    assert step > 0
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    return docs.select(
        id_col, text_col, F.explode(starts).alias("win_start")
    ).select(
        id_col,
        "win_start",
        F.substring(F.col(text_col), F.col("win_start"), window_size).alias("win_text"),
    )


def topk_spans(
    spans: DataFrame,
    k: int = 50,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """W1 analogue (prune_ctxt_mentions, joint_el_task.py:307-434): keep the
    top-k spans per document by score, and of those only score > threshold —
    except the best span, which always survives (the reference keeps top>-inf).
    Ties broken by (offset) for determinism."""
    w = W.partitionBy(id_col).orderBy(F.desc(score_col), F.asc("offset"))
    ranked = spans.withColumn("rank", F.row_number().over(w))
    return ranked.filter(
        (F.col("rank") <= k) & ((F.col(score_col) > threshold) | (F.col("rank") == 1))
    )


def merge_overlapping_spans(
    spans: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """W3 analogue (merge_predictions, bela/utils/prediction_utils.py:75-132):
    sweep spans by offset; overlapping runs collapse to the member with the
    highest score (ties -> smallest offset, then SHORTEST — first-seen).

    Exact reference chaining: merge_predictions updates current_end to EACH
    incoming span's end even when that span loses the score comparison
    (prediction_utils.py:119 runs unconditionally), so a run breaks when a
    span starts at/after the end of the span immediately before it in sweep
    order — lag(end), not a running max. The sweep order is the reference's
    `sorted()` order, ascending (offset, length) (prediction_utils.py:69),
    and the replacement test is STRICTLY greater (prediction_utils.py:97),
    so on score ties the first-seen span in that order wins — tie-break
    (offset ASC, length ASC), not longest-first. Requires (doc_id, offset,
    length, score)."""
    w_order = W.partitionBy(id_col).orderBy("offset", "length")
    with_gap = spans.withColumn(
        "prev_end", F.lag(F.col("offset") + F.col("length")).over(w_order)
    ).withColumn(
        "is_new_session",
        F.when(
            F.col("prev_end").isNull() | (F.col("offset") >= F.col("prev_end")), 1
        ).otherwise(0),
    )
    with_session = with_gap.withColumn(
        "session",
        F.sum("is_new_session").over(w_order.rowsBetween(W.unboundedPreceding, 0)),
    )
    # Final tie-break: every carried ORDERABLE payload column, ascending. The
    # sweep semantics only need (score DESC, offset, length) — and at every
    # query call site (offset, length) is unique per doc so this changes
    # nothing — but two spans with identical (offset, length, score) and
    # different payloads (e.g. ent_id) must not be picked nondeterministically
    # when the operator is used generically. Columns with a map ANYWHERE in
    # their type (top-level map, array<map<...>>, struct<...:map<...>>) are
    # skipped: Spark cannot order on maps at any nesting depth, and including
    # one would fail the whole merge at plan time.
    payload = [
        c
        for c, t in spans.dtypes
        if c not in (id_col, "offset", "length", "score") and "map" not in t
    ]
    w_pick = W.partitionBy(id_col, "session").orderBy(
        F.desc("score"), F.asc("offset"), F.asc("length"),
        *[F.asc(c) for c in payload],
    )
    best = with_session.withColumn("_rn", F.row_number().over(w_pick)).filter(
        F.col("_rn") == 1
    )
    return best.select(id_col, *[c for c in spans.columns if c != id_col])


def span_match(pred: DataFrame, gold: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """J6 analogue: FULL OUTER join on (doc_id, offset, length) with per-row
    tp/fp/fn indicators. A matched position counts tp only if the entity also
    matches (strong match, bela/evaluation/model_eval.py:318-356)."""
    p = pred.select(id_col, "offset", "length", F.col("ent_id").alias("pred_ent"))
    g = gold.select(id_col, "offset", "length", F.col("ent_id").alias("gold_ent"))
    j = p.join(g, [id_col, "offset", "length"], "full_outer")
    return j.select(
        id_col,
        "offset",
        "length",
        "pred_ent",
        "gold_ent",
        (
            F.col("pred_ent").isNotNull()
            & F.col("gold_ent").isNotNull()
            & (F.col("pred_ent") == F.col("gold_ent"))
        ).cast("int").alias("tp"),
        (
            F.col("pred_ent").isNotNull()
            & (F.col("gold_ent").isNull() | (F.col("pred_ent") != F.col("gold_ent")))
        ).cast("int").alias("fp"),
        (
            F.col("gold_ent").isNotNull()
            & (F.col("pred_ent").isNull() | (F.col("pred_ent") != F.col("gold_ent")))
        ).cast("int").alias("fn"),
    )


def micro_prf1(matched: DataFrame) -> DataFrame:
    """A1 analogue: micro P/R/F1 over tp/fp/fn indicator columns, zero-safe
    (calculate_classification_metrics, joint_el_task.py:1200-1250)."""
    agg = matched.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias("recall"),
        (
            2.0 * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1))
        ).alias("f1"),
    )


def bag_of_entities_f1(pred: DataFrame, gold: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A2 analogue: drop positions, dedup (doc, entity), then micro F1
    (joint_el_task.py:1213-1221; analysis_utils.py:84-98)."""
    p = pred.select(id_col, "ent_id").distinct()
    g = gold.select(id_col, "ent_id").distinct()
    j = p.withColumn("in_pred", F.lit(1)).join(
        g.withColumn("in_gold", F.lit(1)), [id_col, "ent_id"], "full_outer"
    )
    matched = j.select(
        (F.coalesce("in_pred", F.lit(0)) * F.coalesce("in_gold", F.lit(0))).alias("tp"),
        (F.coalesce("in_pred", F.lit(0)) * (1 - F.coalesce("in_gold", F.lit(0)))).alias("fp"),
        ((1 - F.coalesce("in_pred", F.lit(0))) * F.coalesce("in_gold", F.lit(0))).alias("fn"),
    )
    return micro_prf1(matched)
