"""Seeded inputs for the benchmark, built in pure Python before any timing.

The generator lives here rather than in ``bela_spark.fixtures`` so that the
program under test never shapes its own benchmark input: the same seed gives
byte-identical parquet for every version of the engine.

Shape (the north-rule ``repo_files`` table, as in ``fixtures.synth_repo_files``):

* near-duplicate groups of four variants (base, whitespace-mutated,
  comment-mutated, identifier-renamed) covering 40% of the rows;
* 5 heavy groups holding 10% of the rows, many of them exact copies, which
  makes hot blocking keys;
* singletons for the rest, each with unique content.

``group`` is the planted truth. It is written beside the input, never into
it, so the timed operation reads only the five contract columns.
"""

from __future__ import annotations

import hashlib
import os
import random

import pandas as pd

COLUMNS = ["repo", "path", "commit", "lang", "content"]
LANGS = ["py", "py", "py", "java", "java", "cpp", "cpp", "js", "go"]
EXT = {"py": "py", "java": "java", "cpp": "cc", "js": "js", "go": "go"}
WORDS = (
    "alpha beta gamma delta query scan merge sort hash join filter window "
    "batch stream vector column row table index shard lease token bucket "
    "salt probe spill codec frame stage task slot"
).split()
HEAVY_GROUPS = 5


def _base_content(rng: random.Random, lang: str) -> str:
    lines: list[str] = []
    for _ in range(2 + rng.randrange(3)):
        fn = f"{rng.choice(WORDS)}_{rng.choice(WORDS)}"
        a, b, c = rng.choice(WORDS), rng.choice(WORDS), rng.randrange(97)
        if lang == "py":
            lines += [f"def {fn}({a}, {b}):", f"    return {a} + {b} * {c}", ""]
        elif lang == "go":
            lines += [f"func {fn}({a} int, {b} int) int {{", f"    return {a} + {b} * {c}", "}", ""]
        else:
            head = "function" if lang == "js" else "int"
            args = f"{a}, {b}" if lang == "js" else f"int {a}, int {b}"
            lines += [f"{head} {fn}({args}) {{", f"    return {a} + {b} * {c};", "}", ""]
    return "\n".join(lines)


def _variant(base: str, gid: int, v: int) -> str:
    """Variant 0 is the base; then whitespace, comment and rename mutations.
    Heavy groups use v >= 4, so many of their members are exact copies."""
    if v == 0:
        return base
    if v % 4 == 1:
        return base.replace(", ", ",  ").replace("    ", "\t") + "\n" * (1 + v % 3)
    if v % 4 == 2:
        tag = WORDS[(gid + v) % len(WORDS)]
        return f"# {tag} module\n{base}\n# end {tag} v{v}\n"
    out = base
    for w in WORDS[:8]:
        out = out.replace(f" {w}", f" {w}{gid % 7}")
    return out + "\n"


def _commit(seed: int, *parts) -> str:
    return hashlib.sha1(":".join(map(str, (seed, *parts))).encode()).hexdigest()


def repo_files(n_rows: int, seed: int) -> pd.DataFrame:
    """``n_rows`` shuffled rows: the five contract columns plus ``group``."""
    rng = random.Random(seed)
    n_groups = max(1, n_rows // 10)
    heavy_rows = n_rows // 10
    rows = []
    bases = []
    for gid in range(n_groups):
        lang = rng.choice(LANGS)
        bases.append((lang, _base_content(rng, lang), rng.choice(WORDS), rng.choice(WORDS)))
    members = [(gid, v) for v in range(4) for gid in range(n_groups)]
    members += [(i % HEAVY_GROUPS, 4 + i) for i in range(heavy_rows)]
    for i, (gid, v) in enumerate(members):
        lang, base, module, name = bases[gid]
        repo = f"org{(gid + v) % 7}/repo{(gid * 3 + v) % 23}"
        rows.append((repo, f"src/{module}/{name}.{EXT[lang]}", _commit(seed, "g", i),
                     lang, _variant(base, gid, v), f"g{gid}"))
    for i in range(len(members), n_rows):
        uid = f"u{rng.randrange(10**7)}_{i}"
        soup = " ".join(rng.choice(WORDS) for _ in range(6 + rng.randrange(6)))
        lang = rng.choice(LANGS)
        rows.append((f"org{i % 7}/repo{i % 23}", f"src/misc/{uid}.{EXT[lang]}",
                     _commit(seed, "s", i), lang, f"// singleton {uid}\n{soup} {uid}\n", f"s{i}"))
    rng.shuffle(rows)
    return pd.DataFrame(rows, columns=COLUMNS + ["group"])


def forked(distinct: pd.DataFrame, seed: int, min_forks: int, max_forks: int) -> pd.DataFrame:
    """Copy every row into ``min_forks..max_forks`` forks: same path and
    content, another repo and commit (so another rid). Exact duplicates are
    the commonest kind in real code corpora."""
    rng = random.Random(seed + 1)
    rows = []
    for r in distinct.itertuples(index=False):
        for k in range(rng.randint(min_forks, max_forks)):
            repo = f"fork{k}-{r.repo.replace('/', '-')}/{r.repo.split('/')[1]}"
            rows.append((repo, r.path, _commit(seed, "f", r.commit, k), r.lang, r.content, r.group))
    rng.shuffle(rows)
    return pd.DataFrame(rows, columns=COLUMNS + ["group"])


def ingest_batches(n_state: int, n_batches: int, batch_rows: int, resent: int, seed: int):
    """(state, [batch, ...]) over one universe of rows, so batches carry new
    variants of stored groups and new singletons. Each batch also re-sends
    ``resent`` stored rids with the content (and so the group) of another
    row, which drives the content-change invalidation path."""
    universe = repo_files(n_state + n_batches * batch_rows, seed)
    state = universe.iloc[:n_state].reset_index(drop=True)
    rng = random.Random(seed + 2)
    picks = rng.sample(range(n_state), n_batches * resent)
    batches = []
    for k in range(n_batches):
        lo = n_state + k * batch_rows
        batch = universe.iloc[lo : lo + batch_rows].copy()
        redo = state.iloc[picks[k * resent : (k + 1) * resent]].copy()
        donors = universe.iloc[[rng.randrange(len(universe)) for _ in range(resent)]]
        redo["content"] = donors["content"].to_numpy()
        redo["group"] = donors["group"].to_numpy()
        batches.append(pd.concat([batch, redo], ignore_index=True))
    return state, batches


def final_rows(state: pd.DataFrame, batches: list[pd.DataFrame]) -> pd.DataFrame:
    """The table after every batch: the latest row per (repo, path, commit)."""
    rows = pd.concat([*batches[::-1], state], ignore_index=True)
    return rows.drop_duplicates(["repo", "path", "commit"], keep="first").reset_index(drop=True)


def write(df: pd.DataFrame, path: str, files: int = 1) -> None:
    """The contract columns to ``path`` as ``files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(df) // files)
    for i in range(files):
        part = df.iloc[i * step : (i + 1) * step][COLUMNS]
        part.to_parquet(os.path.join(path, f"part-{i:03d}.parquet"), index=False)

