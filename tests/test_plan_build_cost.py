"""Cost of building the linkage plan, counted in py4j commands.

Each F.* call is about three py4j round trips (two reflection lookups and
the call) and each argument adds more, so a stage composed of hundreds of
them costs a visible share of a small linkage pass or ingest micro-batch.
The hot key-gen and scoring functions write Spark SQL text instead (see
bela_spark/functions/hashing.py); these budgets keep them that way. The
F.* compositions read 1,521 and 1,214 commands here."""

import threading
from contextlib import contextmanager

import py4j.clientserver as cs
import pytest

from bela_spark.config import LinkageConfig
from bela_spark.fixtures import synth_repo_files
from bela_spark.operators.blocking import blocking_keys
from bela_spark.operators.pairs import keyed_with_counts
from bela_spark.operators.scoring import fused_block_and_score
from bela_spark.pipeline import pair_stage_features, prepare_records
from bela_spark.session import release


@contextmanager
def py4j_commands():
    """[n]: the py4j commands this thread sends inside the block. py4j's
    garbage-collection messages go out on another thread and do not count."""
    tid = threading.get_ident()
    n = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == tid:
            n[0] += 1
        return send(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        cs.ClientServerConnection.send_command = send


@pytest.fixture(scope="module")
def cut_inputs(spark):
    """The records and the pair-stage input of the 400-row fixture, cut, so
    building on them analyses a leaf and runs nothing."""
    cfg = LinkageConfig.at_scale()
    records = prepare_records(synth_repo_files(spark, 400), cfg).localCheckpoint()
    keyed = keyed_with_counts(blocking_keys(records, cfg, dedup=False), min_count=2)
    kwf = keyed.join(pair_stage_features(records, cfg), "rid").localCheckpoint()
    yield cfg, records, kwf
    release(records, kwf)


def test_blocking_keys_build_budget(cut_inputs):
    cfg, records, _ = cut_inputs
    with py4j_commands() as n:
        blocking_keys(records, cfg, dedup=False)
    assert n[0] <= 150, n[0]


def test_fused_block_and_score_build_budget(cut_inputs):
    cfg, _, kwf = cut_inputs
    # no key above mega_key_threshold: the plain tier only, as in a pass
    # whose counts gate measured so
    with py4j_commands() as n:
        fused_block_and_score(kwf, cfg, max_kn=cfg.mega_key_threshold, mega_rows=0)
    assert n[0] <= 300, n[0]
