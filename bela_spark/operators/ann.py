"""Similarity search over an embedding column (SURVEY.md J1/J2/W2, A3/A4).

The reference's FAISS GpuIndexFlatIP top-k search (bela/task/joint_el_task.py:
513-523, 596-603) becomes:
  - brute-force cosine/IP top-k: broadcast the (dimension-sized) catalog side,
    dot product JVM-side, window rank <= k — the exactness baseline;
  - LSH-bucketed top-k: deterministic random-hyperplane sign buckets bound the
    pair space (multi-table probing for recall), then the same rank <= k —
    the 100TB path, where no executor ever sees the full catalog.

Recall@k and MRR aggregations mirror bela/task/joint_el_task.py:1006-1018 and
mblink/task/blink_task.py:329-338.
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import DataFrame, Window as W, functions as F

from bela_spark.functions.vectors import dot_product

log = logging.getLogger(__name__)

# Catalogue rows brute_force_topk may collect to the driver for its numpy
# kernel. The collect holds every embedding as Python floats (~2 KB a row at
# 64 dims) before the numpy copy; above this bound the catalogue stays on
# the executors and the top-k runs as the unbroadcast crossJoin plan.
BROADCAST_CATALOG_MAX_ROWS = 100_000


def brute_force_topk(
    queries: DataFrame,
    catalog: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    broadcast_catalog: bool = True,
) -> DataFrame:
    """(vec_id, neighbor_id, ip_score, rank): exact inner-product top-k.

    Ties broken by neighbor id so the result is total-ordered (the driver
    oracle and this plan must agree on every rank).

    Execution (r6): with broadcast_catalog — the documented contract of this
    exactness anchor; the old F.broadcast + crossJoin shape already required
    the catalog to fit per executor — the dot products and the per-query
    top-k run inside ONE mapInPandas kernel over query batches, the catalog
    held as a task-local numpy matrix from a Spark broadcast (guide §4.2:
    hand whole batches to vectorized native code; §2.3: only the n*k winner
    rows ever leave the kernel, instead of an n*m scored crossJoin feeding a
    window). Every ip_score is BIT-identical to the zip_with/aggregate fold
    it replaces: the kernel accumulates left-to-right over dimensions with
    the same cast-to-double, per-dim multiply, sequential add — identical
    IEEE-754 double ops in identical order — and candidate order replays
    (ip desc, neighbor asc) via a stable argsort over a catalog pre-sorted
    by ascending id. Measured at sf0.1 (2000 vectors, 4M pairs): the
    interpreted ArrayAggregate fold ran the whole crossJoin in ~21s of
    mostly single-task CPU; the kernel runs in ~1s. Ragged/null embeddings
    (possible for ad-hoc inputs, never for the driver tables) fall back to
    the legacy plan, whose zip_with null-padding semantics they rely on.
    A catalogue above BROADCAST_CATALOG_MAX_ROWS (counted through a bounded
    limit before any collect) is never collected or broadcast: a warning
    names the count and the bound, and the crossJoin plan runs without the
    broadcast hint.
    """
    if broadcast_catalog:
        n_cat = catalog.limit(BROADCAST_CATALOG_MAX_ROWS + 1).count()
        if n_cat > BROADCAST_CATALOG_MAX_ROWS:
            log.warning(
                "brute_force_topk: catalogue has %d+ rows, above "
                "BROADCAST_CATALOG_MAX_ROWS=%d; running the unbroadcast "
                "crossJoin plan instead of collecting it to the driver",
                n_cat, BROADCAST_CATALOG_MAX_ROWS,
            )
            broadcast_catalog = False
    if broadcast_catalog:
        cat_rows = sorted(
            catalog.select(F.col(id_col), F.col(emb_col)).collect(),
            key=lambda r: r[0],
        )
        embs = [r[1] for r in cat_rows]
        dims = {len(e) for e in embs if e is not None}
        if cat_rows and len(dims) == 1 and all(e is not None for e in embs):
            return _brute_force_topk_kernel(
                queries, cat_rows, dims.pop(), k, id_col, emb_col,
                exclude_self, catalog.schema[id_col].dataType,
            )
    q = queries.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("qe"))
    c = catalog.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("ce"))
    if broadcast_catalog:
        c = F.broadcast(c)
    pairs = q.crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("ip_score", dot_product("qe", "ce")).drop("qe", "ce")
    w = W.partitionBy("vec_id").orderBy(F.desc("ip_score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _brute_force_topk_kernel(
    queries: DataFrame,
    cat_rows: list,
    dim: int,
    k: int,
    id_col: str,
    emb_col: str,
    exclude_self: bool,
    cat_id_type,
) -> DataFrame:
    """The numpy top-k kernel behind brute_force_topk (see its docstring for
    the bit-identity argument). cat_rows must be sorted ascending by id."""
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    spark = queries.sparkSession
    cat_ids = [r[0] for r in cat_rows]
    mat_t = np.array([r[1] for r in cat_rows], dtype=np.float64).T.copy()  # (d, m)
    bc = spark.sparkContext.broadcast((cat_ids, mat_t))
    out_schema = StructType(
        [
            StructField("vec_id", queries.schema[id_col].dataType),
            StructField("neighbor_id", cat_id_type),
            StructField("ip_score", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    # spread the query side over the session's shuffle partitions: the scan
    # side of the anchor tables is a single small file, and the old crossJoin
    # plan ran the entire interpreted fold in that one input task
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    q = queries.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("qe")
    ).repartition(n_parts)

    def topk(batches):
        import pandas as pd

        ids, mt = bc.value
        d, m = mt.shape
        for b in batches:
            if not len(b):
                continue
            o_vid, o_nid, o_ip, o_rk = [], [], [], []
            qes = b["qe"].to_numpy()
            clean = np.array(
                [e is not None and len(e) == d for e in qes], dtype=bool
            )
            qm = np.zeros((len(b), d))
            if clean.any():
                qm[clean] = np.array(
                    [np.asarray(e, dtype=np.float64) for e in qes[clean]]
                )
            # left-to-right fold over dims — same op order as the JVM
            # aggregate(zip_with(...)) expression, so bit-identical sums
            acc = np.zeros((len(b), m))
            for i in range(d):
                acc += qm[:, i : i + 1] * mt[i][None, :]
            order = np.argsort(-acc, axis=1, kind="stable")
            for r, vid in enumerate(b["vec_id"]):
                # null/ragged query embedding: every ip is null (zip_with
                # null-padding), so order is neighbor-id ascending = 0..m
                o = order[r] if clean[r] else range(m)
                taken = 0
                for j in o:
                    if exclude_self and ids[j] == vid:
                        continue
                    o_vid.append(vid)
                    o_nid.append(ids[j])
                    o_ip.append(float(acc[r, j]) if clean[r] else None)
                    taken += 1
                    o_rk.append(taken)
                    if taken == k:
                        break
            yield pd.DataFrame(
                {"vec_id": o_vid, "neighbor_id": o_nid, "ip_score": o_ip, "rank": o_rk}
            )

    return q.mapInPandas(topk, schema=out_schema)


def _hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — same on every
    executor/run, no RNG state shipped."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int.from_bytes(
                hashlib.md5(f"{seed}:plane:{p}:{d}".encode()).digest()[:8], "big"
            )
            row.append((h / 2**63) - 1.0)  # ~uniform [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket_keys(
    embedded: DataFrame,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_cap: int | None = None,
) -> DataFrame:
    """(id, key): sign-pattern bucket per hash table (random hyperplane LSH).

    n_tables independent tables = multi-probe OR construction for recall.
    The planes are literal arrays in the plan — broadcast for free, evaluated
    by zip_with/aggregate inside codegen, no UDF.

    bucket_cap bounds every bucket to its `bucket_cap` lowest ids (one window
    pass on the bucket key): the downstream self-join emits at most cap^2 rows
    per bucket — the skew bound that makes the 100-TB plan straggler-free
    without salting. Deterministic (lowest ids win) so a SQL oracle replays it.
    """
    out = None
    for t in range(n_tables):
        planes = _hyperplanes(n_planes, dim, seed + 1000 * t)
        bits = [
            F.when(dot_product(F.col(emb_col), F.array(*[F.lit(v) for v in p])) >= 0, "1").otherwise("0")
            for p in planes
        ]
        keys = embedded.select(
            F.col(id_col),
            F.concat(F.lit(f"t{t}:"), *bits).alias("key"),
        )
        out = keys if out is None else out.unionByName(keys)
    if bucket_cap is not None:
        from bela_spark.operators.pairs import cap_ids_per_key

        out = cap_ids_per_key(out, bucket_cap, key_col="key", id_col=id_col)
    return out


def lsh_topk(
    embedded: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates from shared LSH buckets, exact rerank.

    bucket_cap is applied to the INDEX (neighbor) side only, mirroring
    ivf_topk's build-side-only cap: an over-full bucket stops being offered
    as neighbors beyond the cap, but every vector still queries its full
    buckets — an evicted vector loses visibility, never its own top-k (the
    r2 symmetric cap silently degraded evicted vectors' own queries). Each
    bucket emits at most cap * |bucket| join rows — linear in bucket size,
    not quadratic.

    Plan shape (r3 bench regression reclaim): embeddings ride WITH the bucket
    rows into the key self-join, the dot product runs in the same stage, and
    only (vec_id, neighbor_id, ip_score) crosses the next boundary — the
    fused_block_and_score trick. The old shape distinct-ed the candidate id
    pairs and then ran two pair-sized embedding joins, shuffling a 64-float
    array per candidate twice; a pair colliding in multiple tables now costs
    one extra in-stage dot product (cheap) instead, and the groupBy max picks
    the (identical) score once. Candidate set and scores are bit-identical to
    the old plan, so the oracle and the recall companion are unchanged."""
    keys_all = lsh_bucket_keys(
        embedded, n_planes, n_tables, dim, seed, id_col, emb_col, bucket_cap=None
    )
    if bucket_cap is not None:
        from bela_spark.operators.pairs import cap_ids_per_key

        keys_idx = cap_ids_per_key(keys_all, bucket_cap, key_col="key", id_col=id_col)
    else:
        keys_idx = keys_all
    e = embedded.select(F.col(id_col), F.col(emb_col))
    qside = keys_all.join(e, id_col).select(
        "key", F.col(id_col).alias("vec_id"), F.col(emb_col).alias("qe")
    )
    iside = keys_idx.join(e, id_col).select(
        "key", F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("ce")
    )
    scored = (
        qside.join(iside, "key")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", dot_product("qe", "ce").alias("ip_score"))
    )
    j = scored.groupBy("vec_id", "neighbor_id").agg(F.max("ip_score").alias("ip_score"))
    w = W.partitionBy("vec_id").orderBy(F.desc("ip_score"), F.asc("neighbor_id"))
    return j.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_centroids(n_cells: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (md5-derived, same scheme as
    _hyperplanes) — the trained k-means codebook of a FAISS IVF index replaced
    by a fixed random codebook (the operator shape is what's preserved)."""
    return _hyperplanes(n_cells, dim, seed + 7_000_000)


def ivf_cell_assignments(
    embedded: DataFrame,
    n_cells: int = 16,
    n_probes: int = 1,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_cap: int | None = None,
) -> DataFrame:
    """(id, cell, cell_rank): each vector's top-n_probes cells by inner
    product with the literal centroids (ties -> lowest cell id). n_probes=1
    is the index-build assignment; n_probes>1 is the query-side multi-probe.
    cell_cap bounds each cell to its lowest ids (skew bound, SQL-replayable);
    it applies to the INDEX-BUILD side only and therefore requires
    n_probes=1 — passing both is an error, never a silent single-probe."""
    if cell_cap is not None and n_probes != 1:
        raise ValueError("cell_cap applies to the rank-1 build side; use n_probes=1")
    cents = ivf_centroids(n_cells, dim, seed)
    dots = F.array(
        *[
            F.struct(
                dot_product(F.col(emb_col), F.array(*[F.lit(v) for v in c])).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(cents)
        ]
    )
    ex = embedded.select(F.col(id_col), F.explode(dots).alias("dc"))
    ex = ex.select(id_col, F.col("dc.cell").alias("cell"), F.col("dc.d").alias("d"))
    w = W.partitionBy(id_col).orderBy(F.desc("d"), F.asc("cell"))
    out = (
        ex.withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= n_probes)
        .select(id_col, "cell", "cell_rank")
    )
    if cell_cap is not None:
        # shared two-phase cap (pairs.cap_ids_per_key): a hot cell must not
        # sort its whole membership in one task just to truncate it
        from bela_spark.operators.pairs import cap_ids_per_key

        out = cap_ids_per_key(
            out.filter(F.col("cell_rank") == 1), cell_cap, key_col="cell", id_col=id_col
        )
    return out


def ivf_topk(
    embedded: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probes: int = 2,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: catalog vectors live in their argmax cell
    (capped), queries probe their top-n_probes cells, exact rerank inside the
    probed cells — the FAISS IVF search shape (coarse quantize -> probe ->
    exact scan) as two equi-joins, no crossJoin."""
    cat_cells = ivf_cell_assignments(
        embedded, n_cells, 1, dim, seed, id_col, emb_col, cell_cap
    ).select(F.col(id_col).alias("neighbor_id"), "cell")
    probe_cells = ivf_cell_assignments(
        embedded, n_cells, n_probes, dim, seed, id_col, emb_col
    ).select(F.col(id_col).alias("vec_id"), "cell")
    e = embedded.select(F.col(id_col), F.col(emb_col))
    # embeddings ride WITH the cell rows into the cell join; the dot product
    # runs in the same stage and only (vec_id, neighbor_id, ip_score) crosses
    # the next boundary — same shape as lsh_topk (a pair probing 2 shared
    # cells costs one extra in-stage dot product instead of two pair-sized
    # array joins after a distinct). Candidates and scores are bit-identical.
    qside = probe_cells.join(
        e.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("qe")), "vec_id"
    )
    iside = cat_cells.join(
        e.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("ce")),
        "neighbor_id",
    )
    scored = (
        qside.join(iside, "cell")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", dot_product("qe", "ce").alias("ip_score"))
    )
    j = scored.groupBy("vec_id", "neighbor_id").agg(F.max("ip_score").alias("ip_score"))
    w = W.partitionBy("vec_id").orderBy(F.desc("ip_score"), F.asc("neighbor_id"))
    return j.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_recall_vs_brute(approx_topk: DataFrame, exact_topk: DataFrame) -> DataFrame:
    """One row (recall, n_exact, n_hit): fraction of exact top-k edges the
    approximate index recovered — the CORRECTNESS companion that keeps the
    scale path honest against the brute-force anchor."""
    ex = exact_topk.select("vec_id", "neighbor_id")
    ap = approx_topk.select("vec_id", "neighbor_id", F.lit(1).alias("_hit"))
    j = ex.join(ap, ["vec_id", "neighbor_id"], "left")
    return j.agg(
        F.count("*").alias("n_exact"),
        F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        (F.sum(F.coalesce("_hit", F.lit(0))) / F.count("*")).alias("recall"),
    )


def recall_at_k(topk: DataFrame, labels: DataFrame, ks: tuple[int, ...] = (1, 5, 10)) -> DataFrame:
    """One row: recall@k for each k — fraction of queries whose top-k contains
    a same-label neighbor (A3 analogue, joint_el_task.py:1006-1018)."""
    lab = labels.select(F.col("vec_id"), F.col("label"))
    j = (
        topk.join(lab, "vec_id")
        .join(
            lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "nlabel"),
            "neighbor_id",
        )
        .withColumn("hit", (F.col("label") == F.col("nlabel")).cast("int"))
    )
    per_query = j.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("rank") <= kk, F.col("hit")).otherwise(0)).alias(f"hit_{kk}")
            for kk in ks
        ]
    )
    return per_query.agg(
        *[F.avg(f"hit_{kk}").alias(f"recall_at_{kk}") for kk in ks],
        F.count("*").alias("n_queries"),
    )


def mrr(topk: DataFrame, labels: DataFrame) -> DataFrame:
    """One row (mrr, mean_rank): reciprocal rank of the first same-label
    neighbor (A4 analogue, mblink/task/blink_task.py:329-338). Queries with no
    same-label neighbor in the top-k are excluded (reference semantics: rank
    computed over retrieved candidates)."""
    lab = labels.select(F.col("vec_id"), F.col("label"))
    j = (
        topk.join(lab, "vec_id")
        .join(
            lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "nlabel"),
            "neighbor_id",
        )
        .filter(F.col("label") == F.col("nlabel"))
        .groupBy("vec_id")
        .agg(F.min("rank").alias("first_rank"))
    )
    return j.agg(
        F.avg(1.0 / F.col("first_rank")).alias("mrr"),
        F.avg(F.col("first_rank").cast("double")).alias("mean_rank"),
        F.count("*").alias("n_queries"),
    )
