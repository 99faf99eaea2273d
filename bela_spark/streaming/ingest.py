"""Incremental ingest: Structured Streaming over new repo_files rows.

The reference is strictly batch (SURVEY.md "Streaming-only operators": no
timestamps anywhere in its data model), so this surface is the idiomatic
Spark extension, not a ported operator: new records arrive as files in a
directory (stand-in for a Kafka/Iceberg CDC feed), and each micro-batch is
linked against the ACCUMULATED record state via foreachBatch:

  micro-batch -> normalize/sha -> batch-first merge into the record state,
                which also finds the rids whose content changed (one cut)
             -> blocking keys for the batch's rows only; every other rid
                reuses its stored keys (one cut)
             -> touched keys (those holding a batch rid) joined to slim
                features with their key counts, cut once; the cut observes
                the largest key and the chained tier's rows, so a batch
                without a key above mega_key_threshold plans no chained tier
             -> pairs within touched keys -> score -> accepted edges, unioned
                with the edge log minus edges of content-changed rids (one
                cut, each edge marked new or stored)
             -> connected components over the touched components only (a
                small graph: one cut, one union-find task)
             -> records/, keys/, edges/, clusters/ overwritten (parquet)

State tables are read with their stored schemas, so reading one starts no
Spark job. At the benchmark's size a micro-batch is ten SQL executions, and
its cost is mostly fixed cost per execution, not rows (BASELINE.md).

Stored keys are derived state, valid only for the key parameters they were
built with (KEY_PARAMS, recorded on every key row). A state with no keys/
table, or keys built under other parameters, reads as an empty stored-key
set, so every record is re-keyed on the same path.

No watermark: content keys are not temporal. Clustering is INCREMENTAL: CC
re-runs only over components touched by the batch's new edges (stored edges
are intra-component, so the touched subgraph is closed under old edges whose
id1 lies in a touched component); untouched components carry their stored
assignment. cluster_id = min member rid is a per-component property, so the
incremental answer equals a full re-run over the whole edge log — pinned by
tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from bela_spark.config import LinkageConfig
from bela_spark.operators.blocking import blocking_keys
from bela_spark.operators.cc import connected_components
from bela_spark.operators.pairs import keyed_with_counts_cut
from bela_spark.operators.scoring import fused_block_and_score
from bela_spark.pipeline import prepare_records


# the LinkageConfig fields blocking_keys reads: stored keys built under any
# other values of these are stale and are rebuilt
KEY_PARAMS = ("prefix_len", "shingle_k", "num_minhashes", "band_size")


def key_params(cfg: LinkageConfig) -> str:
    """The key parameters of `cfg` as one string, stored on every key row."""
    return ",".join(f"{p}={getattr(cfg, p)}" for p in KEY_PARAMS)


class IncrementalLinkage:
    """foreachBatch driver state: parquet-backed record/key/edge/cluster
    tables."""

    def __init__(self, state_dir: str, cfg: LinkageConfig | None = None):
        self.state_dir = state_dir
        self.cfg = cfg or LinkageConfig()
        if self.cfg.idf_weighting:
            # IDF weights are corpus-global document frequencies; the
            # micro-batch pair stage has no weighted token sets to score
            raise ValueError(
                "IncrementalLinkage does not support idf_weighting=True: "
                "streaming IDF weighting is out of scope; use a config with "
                "idf_weighting=False (e.g. LinkageConfig())"
            )
        self.records_dir = os.path.join(state_dir, "records")
        self.keys_dir = os.path.join(state_dir, "keys")
        self.edges_dir = os.path.join(state_dir, "edges")
        self.clusters_dir = os.path.join(state_dir, "clusters")

    @staticmethod
    def _stored(path: str) -> bool:
        """Whether a table is stored at `path` (a directory listing, no
        Spark job)."""
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )

    def _existing(self, spark: SparkSession, path: str, schema: str) -> DataFrame:
        """The stored table at `path` read with `schema` (so no footer
        inference job runs; a column the files lack reads as null), or an
        empty frame of that schema when nothing is stored yet."""
        if self._stored(path):
            return spark.read.schema(schema).parquet(path)
        return spark.createDataFrame([], schema)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cfg = self.cfg

        new_records = prepare_records(batch_df, cfg).selectExpr(
            "rid", "repo", "path", "commit", "lang", "content_sha", "norm", "tokens"
        )
        rec_schema = (
            "rid string, repo string, path string, commit string, lang string, "
            "content_sha string, norm string, tokens array<string>"
        )
        existing = self._existing(spark, self.records_dir, rec_schema)
        # state ∪ batch with an EXPLICIT batch-first preference: a replayed
        # batch carrying changed content for an existing rid must
        # deterministically win over the stored row (dropDuplicates alone
        # keeps an arbitrary one). localCheckpoint decouples the plan from
        # the state files so the overwrite of records_dir below can't
        # invalidate lazy readers.
        # full tie-break: the same rid at the same priority (a replayed batch
        # file carrying duplicate rows for one rid with differing content)
        # must resolve deterministically — content_sha is the only column
        # that can differ within a rid (rid = sha256(repo||path||commit)).
        # _old_sha, the stored content of the rid (stored rids are unique),
        # rides along so the content-change test below is a filter of the
        # cut, not a join of its own
        resolved = (
            new_records.withColumn("_prio", F.lit(0))
            .unionByName(existing.withColumn("_prio", F.lit(1)))
            .withColumn(
                "_rn", F.expr("row_number() OVER (PARTITION BY rid ORDER BY _prio, content_sha)")
            )
            .withColumn(
                "_old_sha",
                F.expr("max(CASE WHEN _prio = 1 THEN content_sha END) OVER (PARTITION BY rid)"),
            )
            .filter("_rn = 1")
            .drop("_rn")
            .localCheckpoint()
        )
        all_records = resolved.drop("_prio", "_old_sha")
        # the batch's rows after resolution, read from the cut above rather
        # than by re-running the batch's normalize stage
        batch_rows = resolved.filter("_prio = 0")
        new_ids = batch_rows.selectExpr("rid")

        # rids whose content CHANGED in this batch: every stored edge incident
        # to them was derived from the old content and is now invalid — a
        # cluster must never outlive the evidence it was built on
        changed = batch_rows.filter(
            "_old_sha IS NOT NULL AND content_sha != _old_sha"
        ).selectExpr("rid")

        # stored keys stand for every rid the batch did not re-send (its
        # content is unchanged) when they were built under this config's key
        # parameters; key-gen runs only on the records left without any —
        # the batch's rows, plus the whole state when keys/ is missing or
        # stale (a keys/ table without key_params reads it as null: stale).
        # dedup=False: (rid, key) unique by construction (see
        # blocking_keys). The union is cut before keys_dir is overwritten.
        params = key_params(cfg)
        stored_keys = (
            self._existing(
                spark, self.keys_dir, "rid string, key string, key_params string"
            )
            .filter(f"key_params = '{params}'")
            .join(new_ids, "rid", "left_anti")
            .selectExpr("rid", "key")
        )
        unkeyed = all_records.join(stored_keys.selectExpr("rid"), "rid", "left_anti")
        keys = stored_keys.unionByName(
            blocking_keys(unkeyed, cfg, dedup=False)
        ).localCheckpoint()
        # bound work to keys touched by this batch: only keys containing a new
        # record can produce new pairs
        touched = keys.join(new_ids, "rid", "left_semi").selectExpr("key").distinct()
        keys_touched = keys.join(F.broadcast(touched), "key")
        # slim the pair-stage payload before it is multiplied by the key
        # fan-out (guide §2.3): the scorer only ever reads the first
        # lev_max_chars of norm (substring is idempotent, so scores are
        # bit-identical), and the full norm already lives in the state table.
        # Cut once with the key counts attached: the scorer's tier branches
        # and key log all read it, and the cut measures the largest key and
        # the chained tier's rows, so no chained tier (and none of its
        # range-boundary jobs) is planned for a batch whose touched keys all
        # pair in the plain join
        kwf = keys_touched.join(
            all_records.selectExpr(
                "rid",
                f"substring(norm, 1, {cfg.lev_max_chars}) AS norm",
                "array_distinct(tokens) AS tokens",
            ),
            "rid",
        )
        keyed, max_kn, mega_rows = keyed_with_counts_cut(kwf, cfg.mega_key_threshold)
        scored_by_key, _ = fused_block_and_score(
            keyed, cfg, max_kn=max_kn, mega_rows=mega_rows
        )

        # ONE edge cut: the stored edges that survive (those incident to a
        # content-changed rid are stale evidence) and the batch's accepted
        # edges, with _new marking an edge this batch derived. The fused
        # scoring DAG, the batch's most expensive stage, runs once here;
        # the edge log, the incremental-CC inputs and the cluster table are
        # filters of the cut
        stored_edges = (
            self._existing(spark, self.edges_dir, "id1 string, id2 string")
            .join(changed.withColumnRenamed("rid", "id1"), "id1", "left_anti")
            .join(changed.withColumnRenamed("rid", "id2"), "id2", "left_anti")
        )
        edges = (
            stored_edges.withColumn("_new", F.lit(False))
            .unionByName(
                scored_by_key.filter(f"score >= {cfg.score_threshold!r}D")
                .selectExpr("id1", "id2")
                .withColumn("_new", F.lit(True))
            )
            .groupBy("id1", "id2")
            .agg(F.expr("max(_new) AS _new"))
            .localCheckpoint()
        )
        all_edges = edges.selectExpr("id1", "id2")
        new_edges = edges.filter("_new").selectExpr("id1", "id2")
        old_edges = edges.filter("NOT _new").selectExpr("id1", "id2")

        if self._stored(self.edges_dir) and not self._stored(self.clusters_dir):
            # an earlier batch stopped after writing edges/ and before
            # clusters/: no stored assignment covers the stored edges, so
            # the incremental formula would drop them; CC runs over them all
            assignments = connected_components(
                all_edges, max_rounds=cfg.max_cc_rounds
            ).assignments
        else:
            old_clusters = self._existing(
                spark, self.clusters_dir, "rid string, cluster_id string"
            )
            assignments = self._incremental_cc(
                new_edges, old_edges, old_clusters, dirty_rids=changed
            )
        clusters = (
            all_records.selectExpr("rid")
            .join(assignments, "rid", "left")
            .withColumn("cluster_id", F.expr("coalesce(component, rid)"))
            .drop("component")
        )

        # persist state (all inputs are checkpointed, so overwrites are safe)
        all_records.write.mode("overwrite").parquet(self.records_dir)
        keys.withColumn("key_params", F.lit(params)).write.mode("overwrite").parquet(
            self.keys_dir
        )
        all_edges.write.mode("overwrite").parquet(self.edges_dir)
        clusters.localCheckpoint().write.mode("overwrite").parquet(self.clusters_dir)

    def _incremental_cc(
        self,
        new_edges: DataFrame,
        old_edges: DataFrame,
        old_clusters: DataFrame,
        dirty_rids: DataFrame | None = None,
    ) -> DataFrame:
        """(rid, component) for rids in any edge — incremental connected
        components: CC re-runs ONLY over components touched by this batch's
        edges; untouched components keep their stored assignment.

        Correct-by-construction equivalence with a full re-run (pinned by
        tests/test_streaming.py): stored edges are intra-component, so the
        touched subgraph = every old edge whose id1 falls in a touched
        component, plus the new edges. cluster_id = min member rid is a local
        property of each component, hence identical to the full-log answer.

        The formula is total, so no emptiness probe runs: an empty state has
        no touched component, and the subgraph is the new edges alone. It
        relies on a stored edge's endpoints having stored clusters; a state
        with edges/ but no clusters/ (a batch that stopped between the two
        writes) is found by a directory listing in process_batch, which runs
        CC over the whole edge set instead of calling this.
        `new_edges` and `old_edges` are disjoint (process_batch's edge cut
        marks each edge once), so their union needs no distinct.
        """
        cfg = self.cfg
        ep = (
            new_edges.selectExpr("id1 AS rid")
            .unionByName(new_edges.selectExpr("id2 AS rid"))
            .distinct()
        )
        if dirty_rids is not None:
            # content-changed rids lost edges: their old components may SPLIT,
            # so they are touched even with no new edge incident to them
            ep = ep.unionByName(dirty_rids.selectExpr("rid")).distinct()
        touched_cl = (
            old_clusters.join(ep, "rid", "left_semi").selectExpr("cluster_id").distinct()
        )
        touched_rids = old_clusters.join(
            F.broadcast(touched_cl), "cluster_id", "left_semi"
        ).selectExpr("rid AS id1")
        sub_edges = old_edges.join(touched_rids, "id1", "left_semi").unionByName(
            new_edges
        )
        cc = connected_components(sub_edges, max_rounds=cfg.max_cc_rounds)
        # untouched components carry over verbatim (singleton self-rows are
        # harmless: component == rid is what coalesce(rid) would produce)
        untouched = old_clusters.join(
            F.broadcast(touched_cl), "cluster_id", "left_anti"
        ).selectExpr("rid", "cluster_id AS component")
        return cc.assignments.unionByName(untouched)

    def start(
        self,
        spark: SparkSession,
        input_dir: str,
        checkpoint_dir: str,
        fmt: str = "parquet",
        max_files_per_trigger: int = 4,
    ):
        """readStream on a file source -> foreachBatch(process_batch).

        The stream face comes from the shared source layer
        (sources.read_repo_files_stream), so the incremental loop reads the
        SAME validated, column-pruned contract schema as every batch entry
        point — including the CSV bytes-exact options when fmt='csv'.
        tests/test_streaming.py::test_stream_source_face_end_to_end drives
        this path with real file drops against the batch pipeline."""
        from bela_spark.sources import read_repo_files_stream

        stream = read_repo_files_stream(
            spark, input_dir, fmt=fmt, max_files_per_trigger=max_files_per_trigger
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
