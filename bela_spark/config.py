"""Pipeline configuration.

The reference resolves Hydra YAML into a DictConfig (bela/main.py:14-16);
here a plain frozen dataclass is the whole config surface — the "plan" is the
lazy DataFrame DAG itself.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class LinkageConfig:
    # --- normalization / shingling (T3/T4 analogues) ---
    shingle_k: int = 3          # tokens per shingle
    prefix_len: int = 2         # tokens in the prefix blocking key

    # --- MinHash-LSH blocking (J1 analogue of FAISS top-k bound) ---
    num_minhashes: int = 16
    band_size: int = 4          # 16/4 = 4 bands; pairs agreeing on >=1 band collide

    # --- candidate-pair generation (J3) ---
    salt_buckets: int = 8       # salted self-join grid for hot keys in
                                # candidate_pairs_with_drops
    hot_key_threshold: int = 64      # ids per key above which a key is hot:
                                     # salted in candidate_pairs_with_drops,
                                     # listed in the fused pair stage's key log
    mega_key_threshold: int = 512    # ids per key above which quadratic pairing
                                     # stops: switch to sorted-neighborhood
                                     # chaining (linear pairs, CC closes the
                                     # transitive group) — logged, never silent
    chain_window: int = 4            # neighbors each record pairs with in a
                                     # chained mega key
    max_ids_per_key: int = 20_000    # hard cap used by the standalone cap_keys
                                     # operator (drops logged)

    # --- pairwise scoring (E5/E6/E8 analogues) ---
    lev_max_chars: int = 64     # bound the O(L^2) Levenshtein per pair; exact
                                # identity is already covered by the exact-
                                # collapse stage + jaccard, so a bounded prefix
                                # is the scale-safe feature
    embedding_dim: int = 64
    w_lev: float = 0.35
    w_jac: float = 0.35
    w_cos: float = 0.30
    score_threshold: float = 0.55    # calibrated on labeled fixtures with the
                                     # production scorer (lev64-prefix + hashed-
                                     # token jaccard): negatives max ~0.540,
                                     # positives min ~0.573 (tests/test_pipeline_f1.py)
    idf_weighting: bool = False      # weight token jaccard by anchored-log2 IDF
                                     # (operators/idf.py) — the at-scale scorer;
                                     # see at_scale() for the calibrated blend

    # --- connected components (C1-C6) ---
    max_cc_rounds: int = 25
    checkpoint_dir: str | None = None   # parquet round checkpoints when set

    # --- misc ---
    seed: int = 42

    @classmethod
    def at_scale(cls, **overrides) -> "LinkageConfig":
        """The 100-TB-calibrated scorer: IDF-weighted jaccard, heavier jaccard
        weight, same 0.55 threshold.

        Plain unigram jaccard + prefix-Levenshtein lose precision as the
        corpus grows: with ~60k planted groups at 600k rows, structurally
        templated records from DIFFERENT groups share enough ubiquitous
        tokens (and an identical 64-char head) to cross the threshold —
        measured micro-F1 0.9788 at 600k with 43.2k false links, while the
        800-row fixture gate still read >= 0.99. Down-weighting
        high-document-frequency tokens restores precision: the discriminative
        mass moves to rare tokens, which true near-dup variants share and
        template look-alikes do not. Measured with this exact config
        (anchored-log2 integer IDF, blend 0.2*lev + 0.5*wjac): threshold
        sweep F1 at 800 / 5k / 600k rows = 1.0 / 0.99944 / 0.99887 at 0.52
        and 0.99878 / 0.99888 / 0.99928 at 0.55. 0.52 sits inside the
        800-row separation band (labeled-pair calibration on the gate's exact
        config: negatives max 0.4828, positives min 0.5253 — so the global
        AND per-key fixture gates are clean) while holding ~0.999 at 600k
        (driver-visible each round as bench_scale_f1); at 5k the classes
        overlap slightly (pos min 0.5085, neg max 0.5361) so ~6 errors on
        160k labeled pairs are inherent to any threshold there.
        Kept out of the frozen defaults so the unweighted kernel's query
        surface and oracles stay stable; the pipeline entry points
        (bench.py, bench_scaling.py) and the at-scale F1 gates use this."""
        from dataclasses import replace

        tuned = dict(idf_weighting=True, w_lev=0.2, w_jac=0.5, score_threshold=0.52)
        return replace(cls(), **{**tuned, **overrides})
