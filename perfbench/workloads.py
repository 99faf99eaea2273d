"""The workloads: set-up, the timed operation, and its output checks.

Every layer is reached through a module attribute (``pipeline.run_linkage``,
``sources.read_repo_files``), so the traced run's wrappers see the calls.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from bela_spark import pipeline, sources
from bela_spark.config import LinkageConfig
from bela_spark.streaming.ingest import IncrementalLinkage

from perfbench import inputs

KEY = ["repo", "path", "commit"]


class CheckFailed(Exception):
    pass


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def cluster_f1(labels: pd.DataFrame) -> float:
    """Pairwise F1 of ``cluster_id`` against ``group``, from co-membership
    counts, so it does not depend on which candidate pairs were scored."""
    def pairs(counts):
        return float((counts * (counts - 1) // 2).sum())

    tp = pairs(labels.groupby(["cluster_id", "group"]).size())
    predicted = pairs(labels.groupby("cluster_id").size())
    true = pairs(labels.groupby("group").size())
    return 2 * tp / (predicted + true) if predicted + true else 1.0


def check_clusters(out: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Every input row has exactly one cluster_id, and the row's content_sha
    is sha256 of its content. Returns the F1 against the planted groups."""
    _expect(len(out) == len(truth), f"{len(out)} cluster rows for {len(truth)} input rows")
    _expect(not out.duplicated(KEY).any(), "an input row has two cluster rows")
    _expect(out["cluster_id"].notna().all(), "a row has no cluster_id")
    joined = truth.merge(out, on=KEY, how="left", validate="one_to_one")
    _expect(joined["cluster_id"].notna().all(), "an input row is missing from the cluster table")
    sha = joined["content"].map(lambda c: hashlib.sha256(c.encode()).hexdigest())
    _expect((sha == joined["content_sha"]).all(), "content_sha != sha256(content)")
    return cluster_f1(joined)


def canonical(out: pd.DataFrame) -> pd.Series:
    """Each row's cluster named by its smallest member key, indexed by key,
    so two clusterings compare regardless of which id names a cluster."""
    key = out["repo"] + "\0" + out["path"] + "\0" + out["commit"]
    name = key.groupby(out["cluster_id"]).transform("min")
    return pd.Series(name.to_numpy(), index=key.to_numpy()).sort_index()


@dataclass
class Outcome:
    funnel: dict
    batch_s: list = field(default_factory=list)


class LinkBatch:
    """``run_linkage(at_scale, collapse_exact)`` over the north-rule table."""

    name = "link_batch"
    rows = 6000
    # A fresh JVM runs its first passes slower (JIT, codegen, Python worker
    # start). Most of a pass is fixed cost per Spark job, which a small input
    # warms as well as a large one.
    warm_rows, warm_passes = 1000, 2

    def make_rows(self, seed: int) -> pd.DataFrame:
        return inputs.repo_files(self.rows, seed)

    def setup(self, spark, work: str, seed: int, files: int) -> None:
        warm = inputs.repo_files(self.warm_rows, seed + 1)
        warm_dir = os.path.join(work, "warm_input")
        inputs.write(warm, warm_dir, files)
        for _ in range(self.warm_passes):
            self._outcome(self._link(spark, warm_dir), warm)
            spark.catalog.clearCache()
        self.truth = self.make_rows(seed)
        self.input_dir = os.path.join(work, "input")
        inputs.write(self.truth, self.input_dir, files)
        self.items = len(self.truth)

    def op(self, spark):
        return self._link(spark, self.input_dir)

    def check(self, spark, run) -> Outcome:
        return self._outcome(run, self.truth)

    @staticmethod
    def _link(spark, input_dir: str):
        df = sources.read_repo_files(spark, "parquet:" + input_dir)
        run = pipeline.run_linkage(df, LinkageConfig.at_scale(), collapse_exact=True)
        run.scored.count()
        run.clusters.persist().count()
        return run

    @staticmethod
    def _outcome(run, truth: pd.DataFrame) -> Outcome:
        out = run.clusters.select(*KEY, "cluster_id", "content_sha").toPandas()
        f1 = check_clusters(out, truth)
        funnel = {
            "records": len(out),
            "reps": run.records.filter("rid = rep").count(),
            "scored_per_key": run.scored_by_key.count(),
            "unique_pairs": run.scored.count(),
            "edges": run.edges.count(),
            "clusters": int(out["cluster_id"].nunique()),
            "cc_rounds": run.cc.rounds,
            "f1": round(f1, 12),
        }
        return Outcome(funnel)

    def labeled_pair_f1(self, spark, run) -> float:
        """The north-rule labeled-pair F1 over the scored candidate pairs."""
        truth = spark.createDataFrame(self.truth[KEY + ["group"]])
        labels = run.records.select("rid", *KEY).join(truth, KEY).withColumnRenamed("group", "group_id")
        labeled = pipeline.label_pairs(run.scored.select("id1", "id2"), labels)
        row = pipeline.pairwise_f1(labeled, run.scored, LinkageConfig.at_scale().score_threshold).first()
        return float(row["f1"])


class LinkForks(LinkBatch):
    """The same job over a fork-heavy table: most rows collapse exactly."""

    name = "link_forks"
    distinct_rows = 400
    min_forks, max_forks = 10, 40

    def make_rows(self, seed: int) -> pd.DataFrame:
        distinct = inputs.repo_files(self.distinct_rows, seed)
        return inputs.forked(distinct, seed, self.min_forks, self.max_forks)


class IngestIncremental:
    """``IncrementalLinkage(state, LinkageConfig())`` fed one file per
    micro-batch over a preloaded state."""

    name = "ingest_incremental"
    state_rows = 1000
    batches = 1
    batch_rows = 50
    resent = 5

    def setup(self, spark, work: str, seed: int, files: int) -> None:
        state, batches = inputs.ingest_batches(
            self.state_rows, self.batches, self.batch_rows, self.resent, seed)
        self.work = work
        self.truth = inputs.final_rows(state, batches)
        self.items = len(self.truth) - len(state)
        self.batch_dir = os.path.join(work, "batches")
        for k, b in enumerate(batches):
            inputs.write(b, os.path.join(self.batch_dir, f"b{k:03d}"))
        # the reference every operation's final clusters must equal; as the
        # first Spark job of the process it also takes the JVM's cold start
        final_dir = os.path.join(work, "final_rows")
        inputs.write(self.truth, final_dir, files)
        run = pipeline.run_linkage(sources.read_repo_files(spark, "parquet:" + final_dir), LinkageConfig())
        self.reference = canonical(run.clusters.select(*KEY, "cluster_id").toPandas())
        spark.catalog.clearCache()
        # the preloaded state is one micro-batch of the same stream (warm-up)
        state_in = os.path.join(work, "state_input")
        inputs.write(state, state_in, files)
        self.template = os.path.join(work, "state_template")
        IncrementalLinkage(self.template, LinkageConfig()).start(
            spark, state_in, os.path.join(work, "state_ckpt"), max_files_per_trigger=files
        ).awaitTermination()
        self.n_ops = 0

    def op(self, spark):
        self.n_ops += 1
        run_dir = os.path.join(self.work, f"ingest-{self.n_ops}")
        state = os.path.join(run_dir, "state")
        shutil.copytree(self.template, state)
        stream_in = os.path.join(run_dir, "in")
        os.makedirs(stream_in)
        now = time.time()
        for k, name in enumerate(sorted(os.listdir(self.batch_dir))):
            dst = os.path.join(stream_in, f"{name}.parquet")
            shutil.copyfile(os.path.join(self.batch_dir, name, "part-000.parquet"), dst)
            os.utime(dst, (now - 100 + k, now - 100 + k))  # file source takes oldest first
        inc = _TimedLinkage(state, LinkageConfig())
        query = inc.start(spark, stream_in, os.path.join(run_dir, "ckpt"), max_files_per_trigger=1)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return inc

    def _final(self, spark, state_dir: str) -> pd.DataFrame:
        recs = spark.read.parquet(os.path.join(state_dir, "records"))
        cl = spark.read.parquet(os.path.join(state_dir, "clusters"))
        return recs.join(cl, "rid", "left").select(*KEY, "cluster_id", "content_sha").toPandas()

    def check(self, spark, inc) -> Outcome:
        _expect(len(inc.batch_s) == self.batches, f"{len(inc.batch_s)} micro-batches, want {self.batches}")
        out = self._final(spark, inc.state_dir)
        f1 = check_clusters(out, self.truth)
        _expect(canonical(out).equals(self.reference), "incremental clusters != run_linkage over the final rows")
        funnel = {
            "records": len(out),
            "edges": spark.read.parquet(os.path.join(inc.state_dir, "edges")).count(),
            "clusters": int(out["cluster_id"].nunique()),
            "f1": round(f1, 12),
        }
        shutil.rmtree(os.path.dirname(inc.state_dir), ignore_errors=True)
        return Outcome(funnel, inc.batch_s)


class _TimedLinkage(IncrementalLinkage):
    """Records each micro-batch's wall time."""

    def __init__(self, *args):
        super().__init__(*args)
        self.batch_s: list[float] = []

    def process_batch(self, batch_df, batch_id):
        t = time.perf_counter()
        super().process_batch(batch_df, batch_id)
        self.batch_s.append(time.perf_counter() - t)


WORKLOADS = {w.name: w for w in (LinkBatch, LinkForks, IngestIncremental)}
