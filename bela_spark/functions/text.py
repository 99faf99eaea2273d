"""Scalar text transforms (SURVEY.md section 2 T-family), all JVM-side built-ins.

The reference's `insert_spaces` FSM and word-boundary extraction
(bela/transforms/joint_el_transform.py:23-69, 527-547) exist to make raw text
tokenizable; the Spark-native equivalents are `lower` + `regexp_replace` +
`split`, which stay inside whole-stage codegen. Every expression here has an
exact ANSI-SQL twin used by the DuckDB oracle (__spark_entry__.py), so the
functions are deliberately restricted to portable semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# The functions below come in two forms: `<name>_sql` returns Spark SQL
# text over SQL text (a column name is the simplest such text), and `<name>`
# parses that text once into a Column with F.expr. Composition happens on
# the text, so a whole nested expression costs one parse in the JVM instead
# of several py4j round trips per F.* call (see functions/hashing.py for why
# that matters on the linkage hot path).


def normalized_sql(col: str) -> str:
    """Lowercase, collapse all non-alphanumeric runs to single spaces, trim.

    Analogue of insert_spaces + lowercasing in the reference transform chain
    (bela/transforms/joint_el_transform.py:23-69).
    """
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' '))"


def normalized(col: str) -> Column:
    return F.expr(normalized_sql(col))


def tokens_sql(norm: str) -> str:
    """Whitespace tokens of an already-normalized string (T4 analogue)."""
    return (
        f"CASE WHEN length({norm}) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({norm}, ' ') END"
    )


def tokens_of(norm: str) -> Column:
    return F.expr(tokens_sql(norm))


def shingles_sql(tokens: str, k: int = 3) -> str:
    """k-token shingles; short texts fall back to one whole-text shingle.

    Candidate-span generation in the reference enumerates (start, end) windows
    (bela/task/joint_el_task.py:244-290); shingling is the same sliding-window
    enumeration expressed with sequence+transform+slice — no UDF.
    """
    return (
        f"CASE WHEN size({tokens}) >= {k} THEN transform(sequence(1, size({tokens}) - {k - 1}), "
        f"x -> concat_ws(' ', slice({tokens}, x, {k}))) "
        f"ELSE array(concat_ws(' ', {tokens})) END"
    )


def shingles_of(tokens: str, k: int = 3) -> Column:
    return F.expr(shingles_sql(tokens, k))


def record_id(*cols: str) -> Column:
    """Stable content-addressed record id: sha256 of '||'-joined key columns.

    String ids keep min()-based connected components well-defined at any scale
    (no 64-bit collision risk at 10^12 rows).
    """
    return F.expr(f"sha2(concat_ws('||', {', '.join(cols)}), 256)")


# Small multilingual stopword lists for the heuristic language-ID operator.
# Deterministic and oracle-expressible (plain IN-list membership counts).
LANGID_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une", "dans", "pour"),
}
