"""Anchored-log2 IDF token weighting for the at-scale pair scorer.

Unigram-set jaccard treats every token as equally informative; at corpus
scale that breaks precision, because structurally templated records share
most of their HIGH-frequency tokens without being duplicates (measured:
0.9788 pairwise F1 at 600k rows vs >= 0.999 weighted — see
LinkageConfig.at_scale). The classic fix is TF-IDF-style weighting of the
set-overlap (Cohen's WHIRL soft-join family); here each distinct token t
gets the integer weight

    w(t) = max(1, len(bin(N)) - len(bin(df(t))) + 1)
         = max(1, floor(log2 N) - floor(log2 df) + 1)

i.e. the document-frequency IDF quantized to powers of two and anchored at
the corpus size N. Everything is integer arithmetic over exact counts — no
transcendentals — so the DuckDB oracle twin reproduces the weights, the
per-record weight sums, and the weighted-jaccard numerators/denominators
BIT-identically (ln-based weights would hinge on two engines' libm agreeing
to the last ulp under a floor; measured on the 600k fixture the quantized
form separates as well as smooth ln: F1 0.99928 vs 0.99928 at the same
threshold).

Reference anchor: the reference scores candidates with a learned blend over
dense features (bela/task/joint_el_task.py:52-80); this is the lexical
analogue for the linkage surface, where down-weighting ubiquitous tokens
plays the role the encoder's contextualization plays there.

Scale shape: one map-side-combined groupBy over exploded (record, token)
rows for document frequencies, one shuffle-hash join back (token-partitioned,
never pair-sized), one groupBy to re-assemble per-record weighted token
maps. All linear in corpus token volume; nothing here touches pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Vocabulary-size bound for the broadcast-weighting fast path of
# weight_tokens_packed: at or below this many distinct tokens the (token,
# weight) table is collected once (~16 B/entry as two int64 numpy arrays — the
# default bound is ~128 MB of driver/broadcast memory) and the weighting runs
# as a NARROW Arrow kernel; above it the legacy join DAG runs unchanged, so
# the path is scale-adaptive, not a local tune (same gating discipline as
# cc.CC_LOCAL_FINISH_MAX_EDGES). 0 disables the fast path entirely.
IDF_BROADCAST_MAX_TOKENS = 8_000_000


def _exploded_weights(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """(id, _t, _w) rows: each record's distinct tokens joined with their
    global anchored-log2 IDF weight (_w null only on the explode_outer
    sentinel row that keeps empty-token records alive)."""
    toks = df.select(id_col, token_col)
    # scalar subquery: N executes once and is inlined as a literal into the
    # weight projection — no join node (a 1-row crossJoin compiles to a
    # BroadcastNestedLoopJoin, which the repo-wide no-all-pairs plan gate
    # rightly forbids, and a literal-key equi-join gets constant-folded
    # straight back into one)
    n_docs = toks.agg(F.count("*").alias("_N")).scalar()
    ex = toks.select(id_col, F.explode_outer(token_col).alias("_t"))
    dfreq = (
        ex.where(F.col("_t").isNotNull())
        .groupBy("_t")
        .agg(F.count("*").alias("_df"))
    )
    # bin() lengths are exact integer log2 floors in both Spark and DuckDB
    weights = dfreq.select(
        "_t",
        F.greatest(
            F.lit(1).cast("long"),
            (F.length(F.bin(n_docs)) - F.length(F.bin(F.col("_df"))) + F.lit(1)).cast(
                "long"
            ),
        ).alias("_w"),
    )
    return ex.join(weights.hint("shuffle_hash"), "_t", "left")


def weight_tokens(
    df: DataFrame,
    id_col: str = "rid",
    token_col: str = "tokens",
    ws_col: str = "ws",
) -> DataFrame:
    """Replace `token_col` (array of distinct tokens, any orderable element
    type) with array<struct<t, w: bigint>> of (token, IDF weight) plus a
    `ws_col` total-weight column. Rows with empty (or null) token arrays
    survive with an empty array and ws = 0 — the weighted-jaccard convention
    (union weight 0 -> similarity 1.0) then matches the unweighted kernel's
    empty-set behaviour, which the null-content regression tests pin.

    Generic (any orderable token type, oracle-replayable shape) — the pair
    stage uses weight_tokens_packed instead, which is result-identical and
    ~an order of magnitude cheaper per pair."""
    tw = (
        _exploded_weights(df, id_col, token_col)
        .groupBy(id_col)
        .agg(
            # when() without otherwise -> null for the explode_outer sentinel
            # row of empty-array records; collect_list drops nulls, so those
            # records keep an EMPTY weighted array rather than vanishing
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_t").isNotNull(),
                        F.struct(F.col("_t").alias("t"), F.col("_w").alias("w")),
                    )
                )
            ).alias(token_col),
            F.coalesce(F.sum("_w"), F.lit(0).cast("long")).alias(ws_col),
        )
    )
    # tw is one row PER RECORD — row-proportional, so its join strategy must
    # never depend on a size estimate: AQE's broadcast conversion reads the
    # COMPRESSED shuffle size, and repetitive corpora compress well enough
    # (measured ~20x on templated content) that a >1 GiB relation can slip
    # under the 64 MB threshold and then blow spark.driver.maxResultSize on
    # the broadcast collect (reproduced at 16M rows). Pin hint("merge"), not
    # shuffle_hash: when BOTH sides are row-proportional there is no bounded
    # build side, and hash-building an unbounded side is bandwidth-hostile —
    # measured at 2M rows on the scaling arms, shuffle_hash here read 0.79
    # efficiency 4->16 cores (hash-probe random access) vs 0.9 for the
    # sort-merge shape. The repo's shuffle_hash joins (counts, reps, dfreq)
    # all have bounded build sides; that is the rule.
    return df.drop(token_col).join(tw.hint("merge"), id_col)


def weight_tokens_packed(
    df: DataFrame,
    id_col: str = "rid",
    token_col: str = "tokens",
    ws_col: str = "ws",
) -> DataFrame:
    """Pair-stage hot-path variant: `token_col` must hold distinct
    NON-NEGATIVE integer tokens < 2^31 (the pipeline's hashed token sets).
    Each token is packed with its weight into ONE long, token * 64 + w, and
    the column becomes a sorted array<long> (plus the ws_col weight sum).

    Why this exists: the weight is a GLOBAL function of the token, so the
    packing is injective in the token and array_intersect over packed arrays
    IS token-set intersection. The weighted-jaccard kernel can then use the
    native array_intersect (inside whole-stage codegen) and fold weights out
    of the packed values with one small HOF over the intersection only —
    instead of building a per-pair map and probing it once per token, which
    measured 6x slower end-to-end at 600k rows (bench linkage 412s vs the
    unweighted 66s; packed restores the gap to ~1.3x).

    6 weight bits always suffice: w <= floor(log2 N) + 1 <= 63 for any count
    N that fits in a signed long. Packed values stay < 2^37.

    Execution (r6): when the measured vocabulary fits
    IDF_BROADCAST_MAX_TOKENS, the weighting runs as a NARROW Arrow kernel
    over a broadcast (token -> weight) table instead of the
    explode -> dfreq -> join-back -> groupBy -> merge-join DAG: the legacy
    shape shuffles every exploded (id, token) row twice (once keyed on the
    token for the weight join, once keyed on the id for re-assembly, both
    carrying the 64-char id) and then sort-merge-joins two row-proportional
    frames, where the kernel's only wide work is ONE column-pruned dfreq
    aggregate over bare int tokens. Values are bit-identical (same integer
    weights, same packing, ascending sort == array_sort); above the bound —
    or for non-integer token types — the legacy DAG runs unchanged, so the
    fast path is scale-adaptive (guide §2.2/§4.2). Note the gate makes this
    function run one aggregate job at DAG-construction time: a bounded
    collect of the document frequencies, with the document count N riding
    as the null-token row — work the legacy plan needed anyway."""
    fast = _weight_tokens_packed_broadcast(df, id_col, token_col, ws_col)
    if fast is not None:
        return fast
    tw = (
        _exploded_weights(df, id_col, token_col)
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_t").isNotNull(),
                        F.col("_t").cast("long") * F.lit(64) + F.col("_w"),
                    )
                )
            ).alias(token_col),
            F.coalesce(F.sum("_w"), F.lit(0).cast("long")).alias(ws_col),
        )
    )
    # row-proportional x row-proportional: pinned sort-merge for the same
    # reasons as weight_tokens above (no size-estimated broadcast, no
    # unbounded hash build)
    return df.drop(token_col).join(tw.hint("merge"), id_col)


def vocab_index(vocab, tokens):
    """Positions of `tokens` in the sorted `vocab` array. Every token is in
    the vocabulary by construction (dfreq is aggregated over the very frame
    being weighted); should that break, e.g. on an input that re-evaluates
    differently, raise rather than let searchsorted hand an unseen token its
    neighbour's weight."""
    import numpy as np

    idx = np.searchsorted(vocab, tokens)
    hit = idx < len(vocab)
    hit[hit] = vocab[idx[hit]] == tokens[hit]
    if not hit.all():
        missing = np.unique(tokens[~hit])
        raise RuntimeError(
            f"IDF broadcast kernel: {len(missing)} token(s) not in the "
            f"broadcast vocabulary (first: {missing[:5].tolist()}); the input "
            "changed between the vocabulary collect and the weighting pass"
        )
    return idx


def _weight_tokens_packed_broadcast(
    df: DataFrame, id_col: str, token_col: str, ws_col: str
) -> DataFrame | None:
    """The broadcast-vocabulary fast path of weight_tokens_packed, or None
    when it does not apply (fast path disabled, non-integral token elements,
    or vocabulary above the bound — callers then run the legacy join DAG).

    Shape: one map-side-combined dfreq aggregate over bare int tokens (the
    only exchange), a bounded collect of the (token, df) table, then a narrow
    mapInPandas that replaces `token_col` with the sorted packed array and
    appends `ws_col`, passing every other column through untouched. The
    document count N rides in the same aggregate as the null token's
    frequency: every row contributes one null at position 0 of its exploded
    array, so empty and null token arrays count toward N exactly as the
    legacy scalar subquery counts them, while null ELEMENTS (positions > 0)
    are dropped as the legacy explode drops them. The weight math is exact
    integer arithmetic: bit_length via searchsorted against powers of two,
    never a float log."""
    if IDF_BROADCAST_MAX_TOKENS <= 0:
        return None
    from pyspark.sql.types import (
        ArrayType,
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    tok_field = df.schema[token_col]
    if not isinstance(tok_field.dataType, ArrayType) or not isinstance(
        tok_field.dataType.elementType, (ByteType, ShortType, IntegerType, LongType)
    ):
        return None

    import numpy as np

    # ONE column-pruned aggregate + bounded collect gives dfreq (the legacy
    # plan runs the identical aggregate inside its DAG) and N (the legacy
    # plan's scalar subquery) as the null token's row. limit(bound+2) caps
    # the collect: a vocabulary past the bound falls back before
    # materializing more than one excess row on the driver.
    elem = tok_field.dataType.elementType.simpleString()
    marked = (
        f"concat(array(CAST(NULL AS {elem})), "
        f"coalesce({token_col}, CAST(array() AS ARRAY<{elem}>)))"
    )
    dfreq = (
        df.selectExpr(f"posexplode({marked}) AS (_pos, _t)")
        .where("_pos = 0 OR _t IS NOT NULL")
        .groupBy("_t")
        .agg(F.expr("count(*) AS _df"))
    )
    # Arrow, not pandas: a null in an integer column would turn the pandas
    # column into float64
    import pyarrow.compute as pc

    rows = dfreq.limit(IDF_BROADCAST_MAX_TOKENS + 2).toArrow()
    toks = rows.filter(pc.is_valid(rows["_t"]))
    if toks.num_rows > IDF_BROADCAST_MAX_TOKENS:
        return None
    n_docs = pc.sum(rows.filter(pc.is_null(rows["_t"]))["_df"]).as_py() or 0
    vocab = np.asarray(toks["_t"], dtype=np.int64)
    dfs = np.asarray(toks["_df"], dtype=np.int64)
    order = np.argsort(vocab)
    vocab, dfs = vocab[order], dfs[order]
    pows = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))
    # len(bin(x)) - 2 == x.bit_length() == searchsorted(pows, x, 'right')
    n_bits = int(np.searchsorted(pows, n_docs, side="right"))
    df_bits = np.searchsorted(pows, dfs, side="right")
    weights = np.maximum(np.int64(1), np.int64(n_bits) - df_bits + 1)
    packed_vocab = vocab * 64 + weights
    bc = df.sparkSession.sparkContext.broadcast((vocab, packed_vocab, weights))

    # the legacy join's column order (join key first, then the other input
    # columns, then the weighted pair), so the schema never depends on which
    # branch of the gate ran; built in Python from the schema already
    # fetched, not by analysing a projection
    cols = [id_col] + [c for c in df.columns if c not in (id_col, token_col)]
    out_schema = StructType(
        [df.schema[c] for c in cols]
        + [
            StructField(token_col, ArrayType(LongType(), False), False),
            StructField(ws_col, LongType(), False),
        ]
    )

    def weigh(batches):
        import pandas as pd

        v, pv, w = bc.value
        empty = np.empty(0, dtype=np.int64)
        for b in batches:
            if len(b) == 0:
                continue
            # per-row int64 views; a row whose Arrow array carries null
            # elements (object/float dtype) is cleaned like the legacy DAG
            # (explode drops null tokens) — the common all-int case stays a
            # zero-copy asarray per row
            arrs = []
            for t in b[token_col]:
                if t is None or len(t) == 0:
                    arrs.append(empty)
                    continue
                a = np.asarray(t)
                if a.dtype.kind not in "iu":
                    a = np.asarray(
                        [x for x in t if x is not None and x == x], dtype=np.int64
                    )
                arrs.append(a.astype(np.int64, copy=False))
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(b))
            offs = np.zeros(len(b) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            if offs[-1] == 0:
                flat_packed = np.empty(0, dtype=np.int64)
                ws = np.zeros(len(b), dtype=np.int64)
            else:
                flat = np.concatenate(arrs)
                idx = vocab_index(v, flat)
                flat_packed = pv[idx]
                flat_w = w[idx]
                # ascending sort within each row == array_sort (packing is
                # strictly monotonic in the token, values are distinct)
                row_ids = np.repeat(np.arange(len(b), dtype=np.int64), lens)
                ord2 = np.lexsort((flat_packed, row_ids))
                flat_packed = flat_packed[ord2]
                ws = np.zeros(len(b), dtype=np.int64)
                nz = lens > 0
                ws[nz] = np.add.reduceat(flat_w, offs[:-1][nz])
            packed_lists = [
                flat_packed[offs[i] : offs[i + 1]] for i in range(len(b))
            ]
            out = pd.DataFrame({c: b[c] for c in cols})
            out[token_col] = packed_lists
            out[ws_col] = ws
            yield out

    return df.mapInPandas(weigh, schema=out_schema)


def weighted_jaccard_cols(
    t1: str = "t1", t2: str = "t2", s1: str = "s1", s2: str = "s2"
):
    """(size_bound, wjac) column expressions over two weighted token sides.

    size_bound is the O(1) exact upper bound on the weighted jaccard
    (intersection weight <= min(ws1, ws2), so jac <= min/max), the weighted
    analogue of the distinct-set size-ratio gate; wjac is
    sum(w over shared tokens) / (ws1 + ws2 - shared), with the empty-union
    convention 1.0. Integer numerators/denominators; one double division at
    the end (exact-integer operands -> bit-identical across engines)."""
    ws1, ws2 = F.col(s1), F.col(s2)
    size_bound = F.when(F.greatest(ws1, ws2) == 0, F.lit(1.0)).otherwise(
        F.least(ws1, ws2) / F.greatest(ws1, ws2).cast("double")
    )
    m2 = F.map_from_entries(F.col(t2))
    wi = F.aggregate(
        F.col(t1),
        F.lit(0).cast("long"),
        # try_element_at: plain element_at / map[key] RAISE on a missing key
        # under Spark 4's default ANSI mode
        lambda acc, x: acc
        + F.coalesce(F.try_element_at(m2, x["t"]), F.lit(0).cast("long")),
    )
    wu = ws1 + ws2 - wi
    wjac = F.when(wu <= 0, F.lit(1.0)).otherwise(wi / wu.cast("double"))
    return size_bound, wjac


def weighted_jaccard_packed_ix_staged_sql(
    t1: str = "t1",
    t2: str = "t2",
    s1: str = "s1",
    s2: str = "s2",
    ix: str = "_ix",
    wi: str = "_wi",
):
    """(size_bound, ix_expr, wi_expr, wjac_expr): the weighted-jaccard
    kernel over two weight_tokens_packed sides, split into three projections
    so the pair hot path computes the intersection and its weight sum ONCE
    per pair. Values are bit-identical to weighted_jaccard_cols over
    weight_tokens sides (same integer weights, same one final double
    division): injective packing makes array_intersect over packed longs
    exactly the token-set intersection, and each weight is the low 6 bits of
    a packed value.

    Why split at all: in a one-shot form the intersection aggregate
    appears in the zero-union test, the numerator AND the denominator, and
    because the HOF aggregate is CodegenFallback each occurrence is
    interpreted separately (3x the per-pair kernel cost, measured as the 80s+
    straggler tasks in the 2M-row scaling arms). Projecting the weight sum
    into its own column fixes the repeat but not the rest: the
    array_intersect under the aggregate then still evaluates on the
    INTERPRETED path (boxed elements, generic hash set), and the blocking-key
    self-join's WholeStageCodegen pipeline has to END at that projection,
    materializing every candidate pair as a full-width row carrying BOTH
    packed token arrays (~2x 320 B). Stage-metric diagnosis at 2M rows
    (BASELINE.md "Round-5 scaling measurement") showed the pair stage's
    per-pair CPU inflating 1.43x from 4 to 16 threads with run_time ==
    cpu_time — memory-subsystem stalls from exactly that traffic, the
    single-JVM bottleneck behind the 0.667 4->16 scaling reading
    (SCALING_r5_quiet_4_16.json).

    Projecting `ix_expr` (gated by the caller) as its own column keeps
    array_intersect inside whole-stage codegen — specialized primitive-long
    path, fused INTO the join stage, so the caller can drop both token
    arrays before any row materializes; only the (typically tiny)
    intersection array crosses the codegen boundary into the interpreted
    HOF. `wi_expr` deliberately references `ix` THREE times (null test, size
    test, aggregate): CollapseProject refuses to inline a non-cheap alias
    with multiple uses, so the optimizer provably cannot undo the split
    (tests/test_plans.py pins array_intersect out of the fallback project).

    Contract: project `ix_expr` gated as column `ix` (null when gated off),
    drop t1/t2, project `wi_expr` as `wi`, then apply `wjac_expr` (reads
    `wi`). Null/empty semantics: gated-off -> null wi; empty intersection
    -> 0.

    Built as Spark SQL text (see functions/hashing.py for why);
    weighted_jaccard_packed_ix_staged parses the same four texts into
    Columns."""
    size_bound = (
        f"CASE WHEN greatest({s1}, {s2}) = 0 THEN 1.0D "
        f"ELSE least({s1}, {s2}) / CAST(greatest({s1}, {s2}) AS DOUBLE) END"
    )
    ix_expr = f"array_intersect({t1}, {t2})"
    wi_expr = (
        f"CASE WHEN {ix} IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN size({ix}) > 0 THEN aggregate({ix}, 0L, (x, y) -> x + (y & 63)) "
        "ELSE 0L END"
    )
    wu = f"{s1} + {s2} - {wi}"
    wjac_expr = f"CASE WHEN {wu} <= 0 THEN 1.0D ELSE {wi} / CAST({wu} AS DOUBLE) END"
    return size_bound, ix_expr, wi_expr, wjac_expr


def weighted_jaccard_packed_ix_staged(
    t1: str = "t1",
    t2: str = "t2",
    s1: str = "s1",
    s2: str = "s2",
    ix: str = "_ix",
    wi: str = "_wi",
):
    """weighted_jaccard_packed_ix_staged_sql as Columns."""
    return tuple(
        F.expr(e) for e in weighted_jaccard_packed_ix_staged_sql(t1, t2, s1, s2, ix, wi)
    )
