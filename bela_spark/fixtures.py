"""Deterministic synthesis of the north-rule input table (FIXTURES.md F1/F2).

``repo_files(repo, path, commit, lang, content)`` — an Iceberg-shaped table of
source-code files with planted duplicate groups:

  variant 0: base file            variant 2: comment-mutated copy
  variant 1: whitespace-mutated   variant 3: identifier-renamed copy

plus a few heavy groups (50+ members) to exercise blocking-key skew, and
singleton noise rows. Mirrors the role of the reference's handcrafted JSONL
fixtures (bela/tests/data/el_matcha_joint.jsonl) as labeled ground truth.

Generation is a pure function of (row_id, seed) executed distributively via
mapInPandas over spark.range — identical output at any parallelism, no data
ever materialized on the driver. F1 labels derive from the hidden group id:
a candidate pair is a true link iff both sides share a group.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

LANGS = ["py", "java", "cpp", "js", "go"]
LANG_EXT = {"py": "py", "java": "java", "cpp": "cc", "js": "js", "go": "go"}
WORDS = (
    "alpha beta gamma delta query scan merge sort hash join filter window "
    "batch stream vector column row table index shard lease token bucket "
    "salt probe spill codec frame stage task slot"
).split()

HEAVY_GROUPS = 5          # groups that receive extra members (skew)
HEAVY_EXTRA_FRACTION = 10  # 1/10 of rows go to heavy groups


def _h(*parts) -> int:
    return int.from_bytes(hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big")


def _pick(seq, *key):
    return seq[_h(*key) % len(seq)]


@lru_cache(maxsize=1024)
def _group_lang(gid: int, seed: int) -> str:
    # Zipf-skewed: py hot (FIXTURES.md), exercises per-lang hot keys
    r = _h(seed, "lang", gid) % 100
    if r < 50:
        return "py"
    if r < 70:
        return "java"
    if r < 85:
        return "cpp"
    if r < 95:
        return "js"
    return "go"


@lru_cache(maxsize=1024)
def _base_content(gid: int, seed: int) -> str:
    # pure function of (gid, seed): memoized because the heavy-group segment
    # re-derives the same 5 base files for ~10% of all rows (measured 4.4x on
    # that segment, byte-identical output; the cache is bounded and per
    # python worker)
    lang = _group_lang(gid, seed)
    n_funcs = 2 + _h(seed, "nf", gid) % 3
    lines: list[str] = []
    for k in range(n_funcs):
        fn = f"{_pick(WORDS, seed, gid, k, 'fn')}_{_pick(WORDS, seed, gid, k, 'fn2')}"
        a, b = _pick(WORDS, seed, gid, k, "a"), _pick(WORDS, seed, gid, k, "b")
        c = _h(seed, gid, k, "c") % 97
        if lang == "py":
            lines += [f"def {fn}({a}, {b}):", f"    return {a} + {b} * {c}", ""]
        elif lang in ("java", "cpp"):
            lines += [f"int {fn}(int {a}, int {b}) {{", f"    return {a} + {b} * {c};", "}", ""]
        elif lang == "js":
            lines += [f"function {fn}({a}, {b}) {{", f"    return {a} + {b} * {c};", "}", ""]
        else:
            lines += [f"func {fn}({a} int, {b} int) int {{", f"    return {a} + {b} * {c}", "}", ""]
    return "\n".join(lines)


def _mutate(content: str, gid: int, variant: int, seed: int) -> str:
    if variant == 0:
        return content
    if variant % 4 == 1:  # whitespace mutation: double spaces, trailing newline
        out = content.replace(", ", ",  ").replace("    ", "\t") + "\n" * (1 + variant % 3)
        return out
    if variant % 4 == 2:  # comment lines appended/prepended
        tag = _pick(WORDS, seed, gid, variant, "cm")
        return f"# {tag} module\n{content}\n# end {tag} v{variant}\n"
    # identifier rename: consistent word -> wordX map
    out = content
    for w in WORDS[:8]:
        out = out.replace(f" {w}", f" {w}{gid % 7}")
    return out + "\n"


def _rows_for_ids(ids: np.ndarray, n_rows: int, seed: int) -> pd.DataFrame:
    n_groups = max(1, n_rows // 10)
    grouped_rows = 4 * n_groups
    heavy_rows = max(0, min(n_rows // HEAVY_EXTRA_FRACTION, n_rows - grouped_rows))

    # per-call memo of everything that depends on the group alone: row i
    # maps to gid = i % n_groups, so a batch spanning more groups than the
    # lru caches hold would evict each entry before its next variant reads
    # it. Bounded by the batch's distinct groups.
    group_parts: dict[int, tuple[str, str, str]] = {}
    recs = []
    for i in ids:
        i = int(i)
        if i < grouped_rows:
            gid, variant = i % n_groups, i // n_groups
        elif i < grouped_rows + heavy_rows:
            gid, variant = i % HEAVY_GROUPS, 4 + (i - grouped_rows)  # heavy skew tail
        else:
            gid, variant = -(i + 1), 0  # singleton noise
        if gid >= 0:
            parts = group_parts.get(gid)
            if parts is None:
                lang = _group_lang(gid, seed)
                module = _pick(WORDS, seed, gid, "mod")
                name = _pick(WORDS, seed, gid, "name")
                parts = group_parts[gid] = (
                    _base_content(gid, seed),
                    lang,
                    f"src/{module}/{name}.{LANG_EXT[lang]}",
                )
            base, lang, path = parts
            content = _mutate(base, gid, variant, seed)
            repo = f"org{(gid + variant) % 7}/repo{(gid * 3 + variant) % 23}"
            group = f"g{gid}"
        else:
            # unique content: distinct word soup, never collides with groups
            rng_words = [
                _pick(WORDS, seed, i, "s", j) for j in range(6 + _h(seed, i, "sn") % 6)
            ]
            uid = f"u{_h(seed, i, 'uid') % 10_000_000}_{i}"
            content = f"// singleton {uid}\n" + " ".join(rng_words) + f" {uid}\n"
            lang = _group_lang(i, seed + 1)
            path = f"src/misc/{uid}.{LANG_EXT[lang]}"
            repo = f"org{i % 7}/repo{i % 23}"
            group = f"s{i}"
        commit = hashlib.sha256(f"{repo}:{path}:{i}:{seed}".encode()).hexdigest()[:40]
        recs.append((repo, path, commit, lang, content, group))
    return pd.DataFrame(
        recs, columns=["repo", "path", "commit", "lang", "content", "group_id"]
    )


def synth_repo_files(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    with_truth: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic repo_files table; `with_truth` keeps the
    hidden duplicate-group id for F1 evaluation (FIXTURES.md F2 labels)."""
    # at least one partition per core: the synthesized frame heads a NARROW
    # chain (normalize, sha, md5 minhash) whose parallelism is pinned to this
    # partition count until the first shuffle — 600k rows at 50k/partition
    # was starving local[32] to 12 cores through the most expensive map stage
    n_parts = partitions or max(
        spark.sparkContext.defaultParallelism, 8, n_rows // 50_000
    )
    base = spark.range(0, n_rows, numPartitions=n_parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _rows_for_ids(b["id"].to_numpy(), n_rows, seed)

    schema = "repo string, path string, commit string, lang string, content string, group_id string"
    out = base.mapInPandas(gen, schema=schema)
    return out if with_truth else out.drop("group_id")
