"""Dump the physical-plan trees of the scale-critical paths to EXPLAIN_r{N}.md.

The plan-shape pytest gate (tests/test_plans.py) is the enforcement; this
artifact is the human-readable evidence: the operator trees the engine
actually compiles for the chained pair tier and the LSH top-k, trimmed to
the tree section of explain('formatted').

Usage: python scripts/explain_audit.py [round_tag]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")


def tree_of(df, max_lines: int = 400) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep the operator tree; drop the per-node detail blocks
    head = text.split("\n\n(1)")[0].strip()
    lines = head.splitlines()
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [
            f"... [{len(head.splitlines()) - max_lines} more lines — full tree "
            "reproducible via scripts/explain_audit.py]"
        ]
    return "\n".join(lines)


def _idf_pair_stage_tree(spark) -> str:
    from bela_spark.config import LinkageConfig
    from bela_spark.fixtures import synth_repo_files
    from bela_spark.pipeline import run_linkage

    run = run_linkage(
        synth_repo_files(spark, 2000, seed=42),
        LinkageConfig.at_scale(),
        collapse_exact=True,
        persist=False,
    )
    return tree_of(run.scored)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r04"
    from bela_spark.session import default_cpus, get_spark
    import bela_spark.queries as q

    spark = get_spark(master=f"local[{default_cpus()}]", shuffle_partitions=8)

    sections = [
        (
            "er_chained_pairs (sf0.001 — chained tier engaged on real keys)",
            "No whole-key content-ordered WindowExec: the rank is chunk-local "
            "(partitioned by `_chunk, key`) plus a broadcast offsets join; "
            "cardinality is a partial-aggregated count joined back "
            "shuffle-hash.",
            tree_of(q.er_chained_pairs(spark, "/root/testdata/sf0.001")),
        ),
        (
            "ann_lsh_topk (sf0.001)",
            "Embeddings enter the bucket self-join; only (vec_id, "
            "neighbor_id, ip_score) crosses the post-join boundary; the cap "
            "is the shared two-phase form.",
            tree_of(q.ann_lsh_topk(spark, "/root/testdata/sf0.001")),
        ),
        (
            "at-scale IDF-weighted pair stage (run_linkage, packed kernel)",
            "The round-5 scorer: (token, IDF-weight) packed into single longs "
            "ride the key self-join like any other feature column; the token "
            "match is a native array_intersect inside whole-stage codegen and "
            "the only interpreted HOF is the weight unpack-and-sum over the "
            "intersection. IDF weighting itself (groupBy df + shuffle-hash "
            "join back) is token-partitioned, never pair-sized.",
            _idf_pair_stage_tree(spark),
        ),
    ]
    out = [f"# EXPLAIN audit ({tag})", "", "Generated by scripts/explain_audit.py."]
    for title, note, tree in sections:
        out += ["", f"## {title}", "", note, "", "```", tree, "```"]
    path = f"/root/repo/EXPLAIN_{tag}.md"
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
