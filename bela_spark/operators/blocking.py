"""Blocking-key generation (SURVEY.md J1/M2): the candidate-space bound.

The reference bounds candidates with FAISS top-k retrieval
(bela/task/joint_el_task.py:658-690); here the bound is a *data* design —
two key families emitted as ordinary columns so Catalyst/AQE can see them:

  - MinHash-LSH band keys over content shingles (near-dup recall)
  - token-prefix keys over normalized content (cheap exact-ish recall)

Keys are namespaced ('mh:'/'pfx:') so per-blocking-key metrics (the north
rule's "F1 per blocking key") stay attributable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bela_spark.config import LinkageConfig
from bela_spark.functions.hashing import band_keys, minhash_wide
from bela_spark.functions.text import normalized, shingles_sql, tokens_of


def with_record_columns(df: DataFrame, cfg: LinkageConfig, content_col: str = "content") -> DataFrame:
    """records + (rid, content_sha, norm, tokens) — the normalize stage.

    `content_sha` is the per-row invariant vs the reference table
    (BASELINE.json input_hint): sha256 of the raw content, untouched by
    normalization.
    """
    return df.withColumns(
        {"content_sha": F.expr(f"sha2({content_col}, 256)"), "norm": normalized(content_col)}
    ).withColumn("tokens", tokens_of("norm"))


def prefix_keys(records: DataFrame, cfg: LinkageConfig, id_col: str = "rid") -> DataFrame:
    """(rid, key): 'pfx:' + first cfg.prefix_len normalized tokens."""
    return records.selectExpr(
        id_col, f"concat('pfx:', concat_ws(' ', slice(tokens, 1, {cfg.prefix_len}))) AS key"
    ).filter("length(key) > 4")


def lsh_keys(records: DataFrame, cfg: LinkageConfig, id_col: str = "rid") -> DataFrame:
    """(rid, key): 'mh:<band>:<bandkey>' MinHash-LSH band keys."""
    sh = records.selectExpr(id_col, f"{shingles_sql('tokens', cfg.shingle_k)} AS shingles")
    wide = minhash_wide(sh, id_col=id_col, shingles_col="shingles", num_hashes=cfg.num_minhashes)
    bk = band_keys(wide, id_col=id_col, num_hashes=cfg.num_minhashes, band_size=cfg.band_size)
    return bk.selectExpr(id_col, "concat('mh:', CAST(band AS STRING), ':', band_key) AS key")


def blocking_keys(
    records: DataFrame, cfg: LinkageConfig, id_col: str = "rid", dedup: bool = True
) -> DataFrame:
    """Union of all key families: (rid, key), deduplicated.

    dedup=False skips the distinct — valid because (rid, key) is UNIQUE by
    construction: prefix_keys emits at most one row per record, lsh_keys one
    row per (record, band) with the band index embedded in the key string,
    and the families are namespaced ('pfx:' vs 'mh:'), so no two emitted rows
    can ever be equal and the distinct is a pure no-op exchange (r6: one full
    shuffle of the widest pre-pair frame saved; run_linkage uses this).
    Callers that add NON-namespaced key families must keep dedup=True."""
    keys = prefix_keys(records, cfg, id_col).unionByName(lsh_keys(records, cfg, id_col))
    return keys.distinct() if dedup else keys
