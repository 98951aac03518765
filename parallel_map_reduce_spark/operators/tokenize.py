"""Tokenize / normalize / filter / distinct — the reference's map phase.

Reference semantics (reference ``src/tema1.cpp``, see SURVEY.md §1.4):

- split documents on space/tab/newline ONLY (``strtok_r(text, " \\n\\t")``,
  ``src/tema1.cpp:144,149``) — ``well-known`` is one token before cleaning;
- keep only ASCII letters, lowercased (``remove_special_chars``,
  ``src/tema1.cpp:88-99``) — ``don't``→``dont``, ``123``→ dropped;
- drop tokens empty after cleaning (``src/tema1.cpp:148-151``);
- a ``(word, doc_id)`` pair counts once per document regardless of
  occurrence count (per-mapper dedup map, ``src/tema1.cpp:153-163``).

All of it is built-in Column expressions: the whole map phase stays inside
whole-stage codegen — no Python in the hot path. ``dropDuplicates`` compiles
to a partial+final hash aggregate, which subsumes the reference's
per-mapper combiner (partial dedup happens map-side before the shuffle,
shrinking shuffle volume to distinct pairs exactly like the reference's
``partial_maps``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The split and normalize contracts live with the Arrow kernels'
# tokenizer (``kernels.ascii_words``) so both sides read one pair.
from ..kernels import NON_ALPHA_REGEX, TOKEN_SPLIT_REGEX


def clean_word_col(tok: Column | str) -> Column:
    """lower(strip non-alpha) — the reference's ``remove_special_chars``."""
    tok = F.col(tok) if isinstance(tok, str) else tok
    return F.lower(F.regexp_replace(tok, NON_ALPHA_REGEX, ""))


def tokenize(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """docs → (doc_id, tok): one row per raw whitespace token.

    ``explode(split(...))`` is the UDTF-shaped op (reference map_func
    tokenizer, ``src/tema1.cpp:142-166``). Generation happens inside
    codegen; a 1 MB document streams through as rows without
    materializing a token array per row beyond the split buffer.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), TOKEN_SPLIT_REGEX)).alias("tok"),
    )


def normalize_tokens(tokens: DataFrame, tok_col: str = "tok") -> DataFrame:
    """(doc_id, tok) → (doc_id, word) cleaned per the reference contract."""
    return tokens.select("doc_id", clean_word_col(tok_col).alias("word"))


def filter_empty(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Drop tokens empty after cleaning (reference src/tema1.cpp:148-151)."""
    return words.filter(F.length(F.col(word_col)) > 0)


def distinct_pairs(words: DataFrame) -> DataFrame:
    """Exact distinct (word, doc_id) — the reference's combiner+shuffle
    (``src/tema1.cpp:153-172``). Spark plans this as partial hash-agg →
    exchange on (word, doc_id) → final hash-agg: map-side combine is
    automatic, so shuffle volume is distinct pairs, same as the reference.
    """
    return words.dropDuplicates(["word", "doc_id"])


# ---------------------------------------------------------------------
# UNICODE MODE (round 14 — north-star contract extension, NOT parity).
# The contract above is ASCII BY DESIGN (reference fidelity:
# src/tema1.cpp:88-99 is isalpha), and the parity path stays
# byte-identical. Real LLM-pipeline corpora are UTF-8; this mode
# tokenizes on Unicode letter classes instead: lowercase first
# (simple 1:1 mappings — the committed fixture documents and avoids
# the context-/locale-sensitive divergences between Java's
# toLowerCase and DuckDB's utf8proc: final Σ, Turkish İ/ı,
# length-changing maps), then split on runs of non-letters (Java
# \p{L} covers all scripts; CJK has no spaces, so adjacent Han/kana
# runs form ONE token — no segmentation is claimed). Everything stays
# a built-in Column expression inside codegen, same as the ASCII
# path; the DuckDB oracle of text_unicode_tokens re-derives the same
# split under RE2, so the hash match each round proves the two
# engines' Unicode semantics agree on the contract's domain. Since
# r15, canonical COMPOSITION is covered too (text_unicode_nfc +
# operators/unicode_norm.py, verified against utf8proc's real
# nfc_normalize and Python unicodedata) — the remaining documented
# exclusion is case-folding only, and since r16 that exclusion is
# pinned as DATA, not prose: refdata/casefold_divergence.parquet
# (tools/gen_casefold_divergence.py) enumerates EVERY code point
# where Java lower() and utf8proc lower() disagree (71 — Unicode-
# version skew plus U+0130 Turkish İ) and the ONE contextual rule
# (final sigma: Java/Python 'ΟΣ'->'ος', utf8proc ->'οσ');
# tests/test_casefold_divergence.py re-sweeps the full code space
# against the live engines each run and asserts set equality, so an
# engine upgrade that moves the boundary fails loudly.
UNICODE_SPLIT_REGEX = r"[^\p{L}]+"


def unicode_tokenize(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """docs → (doc_id, token): lowercased maximal Unicode-letter runs.
    The UTF-8 sibling of tokenize+normalize+filter_empty fused into one
    projection (lower → split → explode → drop empties)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.lower(F.col(text_col)), UNICODE_SPLIT_REGEX)
        ).alias("token"),
    ).filter(F.length("token") > 0)


def doc_word_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fused pipeline: docs → distinct cleaned (word, doc_id) pairs.

    Distinctness of (word, doc_id) is PER-DOCUMENT, so it's a per-row
    ``array_distinct`` over the cleaned word array — zero shuffle — not a
    global ``dropDuplicates`` exchange. This is exactly the reference's
    per-file dedup map (``src/tema1.cpp:153-163``: each file is processed
    by one mapper, so per-mapper dedup is globally correct), and it
    removes one of the flagship's two shuffles. The row-level steps
    (tokenize/normalize/filter/distinct_pairs) remain as the taxonomy
    surface; this fused form is the plan you want.
    """
    cleaned = F.transform(
        F.split(F.col(text_col), TOKEN_SPLIT_REGEX), lambda t: clean_word_col(t)
    )
    words_arr = F.array_distinct(F.filter(cleaned, lambda w: F.length(w) > 0))
    # One select, word first (callers key on word); a second reordering
    # select would pay another plan node + py4j round trip for nothing.
    return docs.select(
        F.explode(words_arr).alias("word"), F.col(id_col).alias("doc_id")
    )
