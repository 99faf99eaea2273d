"""Transitive clustering: iterative large-star/small-star connected components
(SURVEY.md C1-C6), checkpointed per round for resumability.

Algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
the standard Spark CC formulation):
  large-star: for each node u, m = min(N(u) ∪ {u}); attach every strictly
              larger neighbor v > u directly to m.
  small-star: for each node u over edges (v <= u), m = min(N<=(u) ∪ {u});
              attach every v in N<=(u) ∪ {u} to m.
Alternating the two converges to star graphs whose centers are component
minima. Node ids are strings (sha256 hex) — lexicographic min is total and
collision-free at any scale, unlike 64-bit hashes at 10^12 rows.

Each round optionally writes edges to `<ckpt>/round=N` parquet plus a manifest
row (round, n_edges, xxhash64 edge-set signature, per-partition row counts —
the north rule's per-partition lineage), truncating lineage AND enabling
resume: a restarted job reads the newest complete round and continues.
Convergence test is signature equality (count + hash-sum) — an exceptAll-based
check would itself shuffle (SURVEY.md section 7 risk 3) — plus the r6
structural star-forest test, which observes the fixed point one full round
earlier.

Round-6 execution strategy (semantics unchanged — exact CC, component = min
member id — only the schedule differs):

  - An edge set that fits ONE bounded task (<= CC_LOCAL_FINISH_MAX_EDGES,
    1M edges ~ 16 MB of long pairs / ~130 MB of sha-string pairs) is
    finished by a single-task union-find (`_union_find`): measured at the
    600k-row bench, the star rounds spent 7 x ~3.3 s of stage latency fixing
    ~60 straggler edges after round 1 had already collapsed 555k edges to 129k.
    The bound is explicit — above it, distributed rounds proceed exactly as
    before, so the hybrid is scale-adaptive, not a local[32] tune.
  - The no-checkpoint path tests that bound on the caller's RAW edges, cut
    once with the count observed on the cut (duplicates, reversed edges and
    self-loops only make the raw count larger than the canonical one), and
    below it the union-find emits (rid, component) directly
    (`_local_assignments`): no canonicalizing shuffle, no count job, no star
    edges and none of the two shuffles that read assignments off them.
  - The no-checkpoint path runs its rounds over dense surrogate LONG ids and
    splits SETTLED stars (components already in final, disconnected form) out
    of the frontier each round, so later rounds shuffle only the unconverged
    residue; once the frontier fits the bound, the union-find finishes it.
  - The checkpointed path keeps the caller's string ids and full edge set in
    every round file, so round parquet + manifests stay directly
    resumable/auditable; it gains the structural early stop and the local
    finish (a local-finish round IS the fixed point, a valid resumable round).

Reference anchors: entity-id-as-cluster (bela/evaluation/model_eval.py:201,269)
and checkpoint-for-resume discipline (bela/task/joint_el_task.py:561-592).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from bela_spark.session import observed_cut, release


@dataclass
class CCResult:
    assignments: DataFrame  # (rid, component)
    rounds: int
    converged: bool
    # the localCheckpoints the assignments still read (none on the parquet
    # path); free them with session.release once the assignments are dead
    checkpoints: list[DataFrame] = field(default_factory=list)


# A canonical edge set at or below this row count is finished by ONE bounded
# union-find task instead of further distributed star rounds: 1M edges is
# ~16 MB of long pairs (~130 MB of sha-string pairs) — comfortably one task's
# memory at any executor size this engine targets, while the win it buys is
# the elimination of O(log diameter) rounds x ~10 scheduled stages each.
# 0 disables the local finish.
CC_LOCAL_FINISH_MAX_EDGES = 1_000_000


def _union_find(batches):
    """The single-task union-find kernel over the (id1, id2) pandas batches
    of one task: (ids, min_idx, multi) — every node, the index into `ids`
    of its component's min member, and whether its component has two or
    more nodes. None when the task holds no edge.

    Works for any orderable id type the engine uses (sha-hex strings compare
    identically in UTF-8 bytes and code points; surrogate longs compare
    numerically). Duplicate edges, either orientation and self-loops are
    all fine: a self-loop-only node is its own 1-node component. An edge
    with a null end joins nothing (as in the distributed rounds' joins)."""
    import numpy as np
    import pandas as pd

    parts = [b for b in batches if len(b)]
    df = pd.concat(parts, ignore_index=True).dropna() if parts else None
    if df is None or not len(df):
        return None
    vals = pd.concat([df["id1"], df["id2"]], ignore_index=True)
    codes, uniques = pd.factorize(vals)
    m = len(df)
    c1, c2 = codes[:m], codes[m:]
    parent = np.arange(len(uniques), dtype=np.int64)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(c1.tolist(), c2.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    n_u = len(uniques)
    roots = np.fromiter((find(i) for i in range(n_u)), dtype=np.int64, count=n_u)
    # min member per root, vectorized (r6: the pandas object-dtype
    # groupby-min was ~1.9s of the ~2.8s single-task kernel at 555k edges;
    # this path reads 0.1-0.2s, byte-identical output). ASCII strings sort
    # as fixed-width bytes (C memcmp == code-point order); other strings
    # sort as Python objects (code-point order, which UTF-8 byte order
    # preserves); numerics sort natively. Per-root min is minimum.at over
    # sort ranks, mapped back through INDICES so original id objects are
    # reused, never re-decoded.
    uq = np.asarray(uniques)
    try:
        sort_key = uq.astype("S") if uq.dtype == object else uq
    except UnicodeEncodeError:
        sort_key = uq
    order = np.argsort(sort_key, kind="stable")
    ranks = np.empty(n_u, dtype=np.int64)
    ranks[order] = np.arange(n_u)
    min_rank = np.full(n_u, n_u, dtype=np.int64)
    np.minimum.at(min_rank, roots, ranks)
    multi = np.bincount(roots, minlength=n_u)[roots] >= 2
    return uq, order[min_rank[roots]], multi


def _local_star_edges(cur: DataFrame) -> DataFrame:
    """Exact CC of a BOUNDED edge set in one executor task: the partitions
    are coalesced (narrow, no shuffle) into a single task that runs the
    union-find and emits the final star forest (component-min -> member),
    i.e. precisely the fixed point the distributed star rounds converge to —
    downstream extraction is shared.

    Deliberate exception to the no-whole-set-in-one-task rule: the caller
    gates this on an explicit, documented row bound (CC_LOCAL_FINISH_MAX_EDGES),
    so unlike a window over an unbounded key the task's memory is capped by
    config, not by data."""

    def finish(batches):
        import numpy as np
        import pandas as pd

        found = _union_find(batches)
        if found is None:
            return
        uq, min_idx, _ = found
        keep = min_idx != np.arange(len(uq))
        yield pd.DataFrame({"id1": uq[min_idx[keep]], "id2": uq[keep]})

    return cur.coalesce(1).mapInPandas(finish, schema=cur.schema)


def _local_assignments(edges: DataFrame) -> DataFrame:
    """(rid, component) of a BOUNDED edge set in one task (same bound and
    kernel as _local_star_edges): every node of each component with two or
    more nodes, component = its min member — what _star_assignments reads
    off the star forest, without the star edges' two shuffles."""
    t = edges.schema["id1"].dataType
    schema = StructType([StructField("rid", t), StructField("component", t)])

    def finish(batches):
        import pandas as pd

        found = _union_find(batches)
        if found is None:
            return
        uq, min_idx, multi = found
        yield pd.DataFrame({"rid": uq[multi], "component": uq[min_idx[multi]]})

    return edges.coalesce(1).mapInPandas(finish, schema=schema)


def _split_stable(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(settled, frontier) split of a canonical (id1 < id2, distinct) edge
    set: a star (grouped by center id1) is SETTLED iff it is a complete,
    minimal-centered connected component of `edges` — its center appears
    nowhere as a member, and every member appears in no other edge (either
    side). Settled stars are fixed points disconnected from the rest, so
    later rounds can iterate on the frontier alone and union the settled
    parts back at the end: the distributed work per round shrinks with the
    unconverged residue instead of staying proportional to the full graph.
    All joins are pinned merge — every frame here is row-proportional."""
    roles = (
        edges.select(F.col("id1").alias("node"), F.lit(1).alias("c"), F.lit(0).alias("m"))
        .unionByName(
            edges.select(F.col("id2").alias("node"), F.lit(0).alias("c"), F.lit(1).alias("m"))
        )
        .groupBy("node")
        .agg(F.sum("c").alias("nc"), F.sum("m").alias("nm"))
    )
    bad = roles.filter(
        (F.col("nm") > 1) | ((F.col("nm") >= 1) & (F.col("nc") >= 1))
    ).select("node")
    unstable_centers = (
        edges.join(
            bad.select(F.col("node").alias("id2")).hint("merge"), "id2", "left_semi"
        )
        .select("id1")
        .unionByName(
            edges.join(
                bad.select(F.col("node").alias("id1")).hint("merge"), "id1", "left_semi"
            ).select("id1")
        )
        .distinct()
    )
    settled = edges.join(unstable_centers.hint("merge"), "id1", "left_anti")
    frontier = edges.join(unstable_centers.hint("merge"), "id1", "left_semi")
    return settled, frontier


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("id1").alias("u"), F.col("id2").alias("v")).unionByName(
        edges.select(F.col("id2").alias("u"), F.col("id1").alias("v"))
    )


def _neighbor_min(edges: DataFrame) -> DataFrame:
    """edges + per-u min neighbor `m`: map-side-combined groupBy min joined
    back with a shuffle-hash join. (Not a window min: WindowExec buffers each
    partition group, so a 10^8-degree hub — exactly the node large-star
    exists to shrink — would sit in one task's memory; the hash join streams
    the big side with no per-group buffering or sort.)"""
    mins = edges.groupBy("u").agg(F.min("v").alias("_mv"))
    return edges.join(mins.hint("shuffle_hash"), "u")


def _large_star(edges_sym: DataFrame) -> DataFrame:
    with_min = _neighbor_min(edges_sym).withColumn(
        "m", F.least(F.col("_mv"), F.col("u"))
    )
    return (
        with_min.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("id1"), F.col("m").alias("id2"))
        .filter(F.col("id1") != F.col("id2"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient each edge smaller <- larger, group by the larger endpoint
    oriented = edges.select(
        F.greatest("id1", "id2").alias("u"), F.least("id1", "id2").alias("v")
    )
    with_min = _neighbor_min(oriented).withColumnRenamed("_mv", "m")
    # m = min(N<=(u)) satisfies m <= v for every group row and m < u, so
    # emitting (m, v) / (m, u) is ALREADY canonical (least, greatest): the
    # round loop needs no separate _canonical pass over the output (one
    # exchange per round saved, r6). The center rows ride un-deduplicated
    # into the single distinct — the partial aggregate dedups them map-side,
    # which is what the old inner .distinct() paid a second full exchange for.
    attach_neighbors = with_min.select(F.col("m").alias("id1"), F.col("v").alias("id2"))
    attach_center = with_min.select(F.col("m").alias("id1"), F.col("u").alias("id2"))
    return (
        attach_neighbors.unionByName(attach_center)
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )


def _canonical(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.least("id1", "id2").alias("id1"), F.greatest("id1", "id2").alias("id2")
    ).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-independent and overflow-free (ANSI mode safe); the
    # edge set is distinct, so xor cancellation of duplicates cannot occur
    n, h, _ = _sig_stats(edges)
    return n, h


def _sig_stats(edges: DataFrame) -> tuple[int, int, int]:
    """(n_edges, xor-hash, n_distinct_id2) in ONE aggregate pass — the first
    two are the classic convergence signature, the third feeds the structural
    fixed-point test below at no extra job."""
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("id1", "id2")), F.lit(0)).alias("h"),
        F.count_distinct("id2").alias("nd"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), int(row["nd"])


def _is_star_forest(edges: DataFrame, n: int, nd: int) -> bool:
    """Structural fixed-point test on a CANONICAL (id1 < id2, distinct) edge
    set: it is a star forest whose centers are component minima iff every
    member (id2) appears exactly once AND no node is both center and member.
    Such a set maps to itself under a large-star + small-star round, so
    detecting it directly saves the one extra full (identical) round that the
    signature-equality test needs to observe convergence (r6). The semi-join
    only runs when the cheap cardinality precondition already holds, i.e. at
    most once per converging CC call."""
    if n != nd:
        return False
    if n == 0:
        return True
    # merge hint: the center set is row-proportional (one row per component),
    # so it must not be size-estimate-broadcast (see pipeline.run_linkage)
    centers = edges.select(F.col("id1").alias("id2")).distinct()
    return edges.select("id2").join(centers.hint("merge"), "id2", "left_semi").isEmpty()


def _round_dir(ckpt: str, n: int) -> str:
    return os.path.join(ckpt, f"round={n}")


def _persist_round(spark, edges: DataFrame, ckpt: str, n: int) -> DataFrame:
    """Materialize a round to parquet and read it back (truncates lineage)."""
    path = _round_dir(ckpt, n)
    edges.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _write_manifest(
    df: DataFrame, ckpt: str, n: int, sig: tuple[int, int], input_sig: tuple[int, int]
) -> None:
    """Per-round manifest with per-partition lineage/metrics (north rule).

    input_sig binds every round to the canonical INPUT edge set, so a resume
    against different input is detected instead of silently returning the
    previous run's components."""
    parts = (
        df.groupBy(F.spark_partition_id().alias("partition"))
        .agg(F.count("*").alias("n_rows"))
        .collect()
    )
    manifest = {
        "round": n,
        "n_edges": sig[0],
        "edge_set_hash": sig[1],
        "input_sig": list(input_sig),
        "partitions": {int(r["partition"]): int(r["n_rows"]) for r in parts},
    }
    with open(os.path.join(ckpt, f"manifest_round_{n}.json"), "w") as f:
        json.dump(manifest, f)


def _manifest_input_sig(ckpt: str, n: int) -> tuple[int, int] | None:
    try:
        with open(os.path.join(ckpt, f"manifest_round_{n}.json")) as f:
            sig = json.load(f).get("input_sig")
        return (int(sig[0]), int(sig[1])) if sig else None
    except (OSError, ValueError, TypeError):
        return None


def _clear_rounds(ckpt: str) -> None:
    """Remove every round dir + manifest: a fresh run must not leave stale
    higher-numbered rounds behind (a later resume would find latest_round()
    pointing at a round from the OLD input, mismatch forever, and pay a
    from-scratch run on every invocation)."""
    import shutil

    for name in os.listdir(ckpt):
        path = os.path.join(ckpt, name)
        if name.startswith("round="):
            shutil.rmtree(path, ignore_errors=True)
        elif name.startswith("manifest_round_"):
            try:
                os.remove(path)
            except OSError:
                pass


def latest_round(ckpt: str) -> int | None:
    """Newest complete checkpoint round, or None. Completeness = parquet
    _SUCCESS marker + manifest present (a killed job can't leave a torn round)."""
    if not os.path.isdir(ckpt):
        return None
    best = None
    for name in os.listdir(ckpt):
        if name.startswith("round="):
            n = int(name.split("=")[1])
            if os.path.exists(os.path.join(ckpt, f"round={n}", "_SUCCESS")) and os.path.exists(
                os.path.join(ckpt, f"manifest_round_{n}.json")
            ):
                best = n if best is None else max(best, n)
    return best


def connected_components(
    edges: DataFrame,
    max_rounds: int = 25,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> CCResult:
    """(id1, id2) edge set -> (rid, component) with component = min member id.

    Only nodes that share an edge with another node are returned (a node
    whose only edges are self-loops gets no row); callers assign singleton
    records their own id via left join + coalesce (see pipeline.assign_clusters).

    Without a checkpoint_dir the star rounds run over dense surrogate LONG
    ids (_connected_components_local): every round shuffles the symmetrized
    edge set ~5x keyed on node ids, so id width multiplies the whole loop —
    8-byte longs versus the pipeline's 64-char sha256-hex strings cut the
    per-round shuffle bytes ~8x and replace string hashing/ordering with
    primitive comparisons (measured: the 600k-row bench CC fell from ~55s to
    ~17s, OPTIMIZATION_r06.md). The checkpointed path keeps the caller's ids
    on disk so round parquet + manifests stay directly resumable/auditable.

    Without a checkpoint_dir and with at most CC_LOCAL_FINISH_MAX_EDGES raw
    edges, `assignments` is a lazy single-task union-find over the cut of
    the raw edges: every action on it (or on clusters built from it) runs
    that task again, so a caller that reads it more than once caches or
    cuts it first.
    """
    lim = CC_LOCAL_FINISH_MAX_EDGES
    if checkpoint_dir is None:
        return _connected_components_local(edges, max_rounds, lim)
    spark = edges.sparkSession
    cur = _canonical(edges)
    start_round = 0
    input_sig: tuple[int, int] | None = None
    _resume_cache: DataFrame | None = None

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        if resume:
            lr = latest_round(checkpoint_dir)
            if lr is not None:
                # resume is only valid for the SAME input edge set: compare
                # the current input's signature with the one bound into the
                # checkpointed manifests; on mismatch (or a pre-signature
                # checkpoint) fall back to a fresh run rather than silently
                # returning the previous run's components
                recorded = _manifest_input_sig(checkpoint_dir, lr)
                # cache BEFORE the signature: validation needs one full pass
                # anyway, and on mismatch the fresh run below reuses the cached
                # frame instead of re-executing the (possibly expensive)
                # upstream scoring DAG a second time. persist (not
                # localCheckpoint) so the match path can unpersist explicitly
                # instead of orphaning blocks in executor storage.
                cur = cur.persist()
                _resume_cache = cur
                input_sig = _signature(cur)
                if recorded == input_sig:
                    cur = spark.read.parquet(_round_dir(checkpoint_dir, lr))
                    start_round = lr + 1
                    _resume_cache.unpersist()
                    _resume_cache = None
                else:
                    print(
                        f"[cc] checkpoint at {checkpoint_dir} was built from a "
                        f"different input edge set (recorded={recorded}, "
                        f"current={input_sig}); starting a fresh run"
                    )

    # materialize BEFORE computing the signature so the (possibly expensive)
    # upstream scoring DAG runs exactly once
    if start_round == 0:
        _clear_rounds(checkpoint_dir)  # no stale rounds from a previous input
        cur = _persist_round(spark, cur, checkpoint_dir, 0)
        if _resume_cache is not None:
            _resume_cache.unpersist()  # round 0 is on parquet now
        prev_sig = _signature(cur)
        input_sig = prev_sig
        _write_manifest(cur, checkpoint_dir, 0, prev_sig, input_sig)
        start_round = 1
    else:
        # resumed from round `start_round - 1`: its edge set is the baseline
        # the next round's signature is compared against
        prev_sig = _signature(cur)

    converged = False
    rounds_done = start_round - 1
    local_finished = False
    for rnd in range(start_round, start_round + max_rounds):
        if prev_sig[0] <= lim:
            # bounded set: one union-find task produces the fixed point,
            # persisted as a perfectly ordinary (resumable) round — any
            # round's edge set has the same components, and this one is final
            nxt = _local_star_edges(cur)
            local_finished = True
        else:
            # _small_star output is already canonical (least, greatest, distinct)
            nxt = _small_star(_large_star(_symmetrize(cur)))
        nxt = _persist_round(spark, nxt, checkpoint_dir, rnd)
        n, h, nd = _sig_stats(nxt)
        sig = (n, h)
        _write_manifest(nxt, checkpoint_dir, rnd, sig, input_sig)
        rounds_done = rnd
        cur = nxt
        if local_finished or sig == prev_sig or _is_star_forest(nxt, n, nd):
            converged = True
            break
        prev_sig = sig

    return CCResult(
        assignments=_star_assignments(cur), rounds=rounds_done, converged=converged
    )


def _star_assignments(cur: DataFrame) -> DataFrame:
    """(rid, component) from a (near-)converged star edge set: members attach
    to their center, centers to themselves; the groupBy-min keeps the result
    total when max_rounds exhausted before full convergence."""
    members = cur.select(
        F.greatest("id1", "id2").alias("rid"), F.least("id1", "id2").alias("component")
    )
    centers = cur.select(F.least("id1", "id2").alias("rid")).distinct().withColumn(
        "component", F.col("rid")
    )
    return (
        members.unionByName(centers)
        .groupBy("rid")
        .agg(F.min("component").alias("component"))
    )


def _connected_components_local(edges: DataFrame, max_rounds: int, lim: int) -> CCResult:
    """The no-checkpoint CC path.

    1. If the raw input fits the local-finish bound, one union-find task
       produces the assignments directly — zero star rounds (counted as one
       round, as the checkpointed path's union-find round file is).
    2. Otherwise the star rounds run over dense surrogate LONG ids, each
       round splits settled stars out of the frontier (_split_stable), and
       the union-find finishes the frontier the moment it fits the bound
       (`lim`, the caller's CC_LOCAL_FINISH_MAX_EDGES).

    The surrogate mapping is monotonically_increasing_id over the distinct
    node set, localCheckpointed so it is assigned exactly once and frozen
    for the run; it need NOT be deterministic across runs, because the
    output is translated back and the component representative (the
    lexicographic min member id, the contract every oracle pins) is
    recomputed over the ORIGINAL ids — any bijection yields the identical
    result. xxhash64 surrogates were rejected: one 64-bit collision silently
    merges two components, and at 10^12 nodes collisions are expected.

    Joins touching the mapping / assignments are pinned merge: those frames
    are row-proportional (one row per node), so they must never be
    size-estimate-broadcast (the 16M-row AQE compressed-size failure mode,
    see pipeline.run_linkage) and there is no bounded build side to hash.
    """
    cuts: list[DataFrame] = []

    def cut(df: DataFrame) -> DataFrame:
        df = df.localCheckpoint()
        cuts.append(df)
        return df

    # the caller's edges as they are: duplicates, either orientation and
    # self-loops only ever make the raw count larger than the canonical
    # one, so a raw count within the bound is a safe test for the
    # single-task path, and it is observed on the cut at no extra job
    raw, (n_raw,) = observed_cut(edges, n=F.count("*"))
    if n_raw <= lim:
        # the union-find pass counts as one round (the checkpointed path
        # persists it as a real round file, so the accounting matches); the
        # canonical set is empty exactly when the raw one is
        return CCResult(
            assignments=_local_assignments(raw),
            rounds=1 if n_raw else 0,
            converged=True,
            checkpoints=[raw],
        )

    cur0 = _canonical(raw).localCheckpoint()
    # the canonical cut is materialized: the raw edges are dead
    release(raw)

    nodes = (
        cur0.select(F.col("id1").alias("rid"))
        .unionByName(cur0.select(F.col("id2").alias("rid")))
        .distinct()
    )
    mapping = cut(nodes.withColumn("nid", F.monotonically_increasing_id()))
    cur = cut(
        cur0.join(
            mapping.select(F.col("rid").alias("id1"), F.col("nid").alias("n1")).hint(
                "merge"
            ),
            "id1",
        )
        .join(
            mapping.select(F.col("rid").alias("id2"), F.col("nid").alias("n2")).hint(
                "merge"
            ),
            "id2",
        )
        # translation preserves neither order nor canonicality — re-canonicalize
        .select(F.least("n1", "n2").alias("id1"), F.greatest("n1", "n2").alias("id2"))
    )
    # the mapping and the translated edges are materialized: cur0 is dead
    release(cur0)
    converged = False
    rounds_done = 0
    settled_parts: list[DataFrame] = []
    for rnd in range(1, 1 + max_rounds):
        nxt = cut(_small_star(_large_star(_symmetrize(cur))))
        rounds_done = rnd
        settled, frontier = _split_stable(nxt)
        frontier = cut(frontier)
        fn = frontier.count()
        settled_parts.append(settled)
        cur = frontier
        if fn == 0:
            # every star settled — nxt was the fixed point
            converged = True
            break
        if fn <= lim:
            cur = cut(_local_star_edges(frontier))
            rounds_done = rnd + 1  # the union-find pass counts as a round
            converged = True
            break

    stars = cur
    for part in settled_parts:
        stars = stars.unionByName(part)

    assign_n = _star_assignments(stars)
    named = (
        assign_n.join(
            mapping.select(F.col("nid").alias("rid"), F.col("rid").alias("_orig")).hint(
                "merge"
            ),
            "rid",
        )
        .select(F.col("_orig").alias("rid"), F.col("component").alias("_comp"))
    )
    rep = named.groupBy("_comp").agg(F.min("rid").alias("component"))
    assignments = named.join(rep.hint("merge"), "_comp").select("rid", "component")
    return CCResult(
        assignments=assignments,
        rounds=rounds_done,
        converged=converged,
        checkpoints=cuts,
    )
