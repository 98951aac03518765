"""Core queries: the reference's own semantics (SURVEY.md §2.1).

Each query has a DuckDB oracle built from the same tokenization contract
(reference src/tema1.cpp:88-99,142-166; see operators/tokenize.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.inverted_index import format_index_rows, inverted_index, rank_within_letter
from ..operators.tokenize import doc_word_pairs, filter_empty, normalize_tokens, tokenize
from ..plans.flagship import flagship_inverted_index
from ..registry import register
from ..sources.catalog import REFDATA_DIR, load_table
from ..sources.text_manifest import read_manifest_documents
from ._sql import WORDS_CTE


@register(
    "inverted_index",
    oracle=f"""
WITH {WORDS_CTE}
SELECT word,
       count(*)::BIGINT AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       substr(word, 1, 1) AS letter
FROM words
GROUP BY word
""",
    doc="Flagship: full inverted index (reference src/tema1.cpp map+reduce).",
    tags=("flagship", "reference"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = flagship_inverted_index(spark, sf_dir)
    return idx.select(
        "word",
        F.col("df").cast("bigint").alias("df"),
        F.array_join("postings", " ").alias("postings"),
        "letter",
    )


@register(
    "token_pairs_distinct",
    oracle=f"WITH {WORDS_CTE} SELECT word, doc_id FROM words",
    doc="Map phase output: distinct cleaned (word, doc_id) pairs "
    "(reference src/tema1.cpp:142-172).",
    tags=("reference",),
)
def q_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_word_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "token_stream",
    oracle=f"""
WITH {WORDS_CTE.replace("SELECT DISTINCT", "SELECT")}
SELECT word, count(*)::BIGINT AS n
FROM words
GROUP BY word
""",
    doc="Tokenize+normalize+filter WITHOUT dedup (term frequencies across "
    "the corpus) — isolates ops 5-7 from op 8.",
    tags=("reference",),
)
def q_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = filter_empty(normalize_tokens(tokenize(docs)))
    return words.groupBy("word").agg(F.count("*").alias("n"))


@register(
    "letter_histogram",
    oracle=f"""
WITH {WORDS_CTE}
SELECT substr(word, 1, 1) AS letter, count(DISTINCT word)::BIGINT AS n_words,
       count(*)::BIGINT AS n_pairs
FROM words
GROUP BY letter
""",
    doc="26-way letter partitioning stats (reference src/tema1.cpp:203-209).",
    tags=("reference",),
)
def q_letter_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = doc_word_pairs(load_table(spark, sf_dir, "documents"))
    return (
        pairs.withColumn("letter", F.substring("word", 1, 1))
        .groupBy("letter")
        .agg(
            F.countDistinct("word").alias("n_words"),
            F.count("*").alias("n_pairs"),
        )
    )


@register(
    "index_text_rows",
    oracle=f"""
WITH {WORDS_CTE},
idx AS (
    SELECT word, count(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings
    FROM words GROUP BY word
)
SELECT substr(word, 1, 1) AS letter,
       word || ':[' || postings || ']' AS line
FROM idx
""",
    doc="Formatted sink rows `word:[ids]` (reference src/tema1.cpp:236-248); "
    "ordering contract covered by tests/test_inverted_index.py goldens.",
    tags=("reference", "sink"),
)
def q_index_text_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = flagship_inverted_index(spark, sf_dir)
    return format_index_rows(rank_within_letter(idx))


_SMALL_MANIFEST = "/root/reference/checker/test_small.txt"
_SMALL_GLOB = "/root/reference/checker/test_in_small/file*.txt"


@register(
    "manifest_inverted_index",
    oracle=f"""
WITH docs AS (
    SELECT row_number() OVER (ORDER BY filename) AS doc_id, content AS text
    FROM read_text('{_SMALL_GLOB}')
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '[ \t\n]+')) AS tok FROM docs
),
w_raw AS (
    SELECT DISTINCT lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word, doc_id
    FROM tok
)
SELECT word, count(*)::BIGINT AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings
FROM w_raw WHERE length(word) > 0
GROUP BY word
""",
    doc="Manifest scan + whole-file load (SURVEY §2.1 ops 1-2, reference "
    "src/tema1.cpp:324-364) through the full index pipeline, on the "
    "reference's own small fixture. Manifest order (file1..file3) equals "
    "the oracle's filename sort, so doc ids align. Full-corpus byte "
    "parity is tests/test_golden_reference.py.",
    tags=("reference", "source"),
)
def manifest_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_manifest_documents(spark, _SMALL_MANIFEST)
    idx = inverted_index(docs)
    return idx.select(
        "word",
        F.col("df").cast("bigint").alias("df"),
        F.array_join("postings", " ").alias("postings"),
    )


_REF_MANIFEST = "/root/reference/checker/test.txt"
# Landed by tools/land_reference_corpus.py (committed): (doc_id, text)
# with 1-based MANIFEST-order ids — filename sort would misnumber
# (chapter_10 < chapter_2 lexicographically), so the landing script
# walks the manifest in Python, independent of the Spark source.
_REF_CORPUS_PARQUET = os.path.join(REFDATA_DIR, "reference_corpus.parquet")


@register(
    "reference_corpus_index",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, text FROM read_parquet('{_REF_CORPUS_PARQUET}')
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '[ \t\n]+')) AS tok FROM docs
),
w_raw AS (
    SELECT DISTINCT lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word, doc_id
    FROM tok
)
SELECT word, count(*)::BIGINT AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       substr(word, 1, 1) AS letter
FROM w_raw WHERE length(word) > 0
GROUP BY word
""",
    doc="The reference's ACTUAL workload: its 355-chapter corpus through "
    "manifest scan → inverted index (reference checker sequential gate: "
    "200 s, checker/checker.sh:47). Benchmarked in bench.py as the "
    "apples-to-apples baseline comparison. The DuckDB oracle reads an "
    "independently-landed parquet copy of the corpus "
    "(tools/land_reference_corpus.py); byte parity against the "
    "reference's own 26 golden letter files is additionally pinned in "
    "tests/test_golden_reference.py.",
    tags=("reference", "flagship", "benchmark"),
)
def reference_corpus_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_manifest_documents(spark, _REF_MANIFEST)
    idx = inverted_index(docs)
    return idx.select(
        "word",
        F.col("df").cast("bigint").alias("df"),
        F.array_join("postings", " ").alias("postings"),
        "letter",
    )


@register(
    "doc_stats",
    oracle=f"""
WITH {WORDS_CTE}
SELECT d.doc_id,
       d.n_chars,
       coalesce(w.n_distinct, 0)::BIGINT AS n_distinct_words
FROM documents d
LEFT JOIN (
    SELECT doc_id, count(*) AS n_distinct FROM words GROUP BY doc_id
) w USING (doc_id)
""",
    doc="Per-document stats: reference File.size (src/tema1.cpp:354) + "
    "distinct-word count; left join keeps docs that clean to zero tokens.",
    tags=("reference",),
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        doc_word_pairs(docs)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_distinct"))
    )
    return (
        docs.join(counts, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("bigint").alias("n_distinct_words"),
        )
    )


_CHUNK_TEST_SIZE = 100  # small at test scale so chunking actually splits


@register(
    "inverted_index_chunked",
    oracle=f"""
WITH {WORDS_CTE}
SELECT word,
       (doc_id // {_CHUNK_TEST_SIZE})::BIGINT AS chunk,
       count(*)::BIGINT AS chunk_df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings_chunk
FROM words
GROUP BY word, doc_id // {_CHUNK_TEST_SIZE}
""",
    doc="Chunked posting lists (operators/inverted_index.py:"
    "build_postings_chunked): the extreme-scale variant where no row "
    "holds a whole posting list; chunk concatenation equivalence is "
    "pinned in tests/test_inverted_index.py.",
    tags=("reference", "scale"),
)
def q_inverted_index_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.inverted_index import build_postings_chunked
    from ..operators.tokenize import doc_word_pairs

    pairs = doc_word_pairs(load_table(spark, sf_dir, "documents"))
    ch = build_postings_chunked(pairs, chunk_size=_CHUNK_TEST_SIZE)
    return ch.select(
        "word",
        "chunk",
        F.col("chunk_df").cast("bigint").alias("chunk_df"),
        F.array_join("postings_chunk", " ").alias("postings_chunk"),
    )


@register(
    "documents_provenance",
    oracle="""
SELECT doc_id,
       'documents.parquet' AS src_file,
       doc_id AS row_index
FROM documents
""",
    doc="Training-data lineage via the scan's hidden _metadata struct: "
    "source file basename + within-file row index ride along with every "
    "row at zero cost (no shuffle, no extra scan) — the provenance a "
    "100 TB curation pipeline must carry to trace a training example "
    "back to its shard. The oracle pins _metadata.row_index == doc_id "
    "(the fixture writes rows in doc_id order) and the basename; the "
    "multi-file general case is pinned by "
    "tests/test_sources_sinks.py:test_metadata_provenance_multi_file.",
    tags=("source", "provenance", "metadata"),
)
def documents_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("src_file"),
        F.col("_metadata.row_index").alias("row_index"),
    )


@register(
    "text_line_repetition",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, text FROM read_parquet('{_REF_CORPUS_PARQUET}')
),
arrs AS (
    SELECT doc_id,
           list_filter(list_transform(string_split(text, chr(10)),
                       x -> trim(x, ' ' || chr(9) || chr(13))),
                       x -> length(x) > 0) AS lines,
           list_filter(list_transform(string_split(text, chr(10) || chr(10)),
                       x -> trim(x, ' ' || chr(9) || chr(13))),
                       x -> length(x) > 0) AS paras
    FROM docs
),
s AS (
    SELECT doc_id,
           len(lines) AS nl, len(list_distinct(lines)) AS nld,
           coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0) AS lc,
           coalesce(list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0) AS lcd,
           len(paras) AS np, len(list_distinct(paras)) AS npd,
           coalesce(list_aggregate(list_transform(paras, x -> length(x)), 'sum'), 0) AS pc,
           coalesce(list_aggregate(list_transform(list_distinct(paras), x -> length(x)), 'sum'), 0) AS pcd
    FROM arrs
)
SELECT doc_id,
       nl::BIGINT AS n_lines,
       CASE WHEN nl > 0 THEN round((nl - nld) / CAST(nl AS DOUBLE), 4) ELSE 0.0 END AS dup_line_frac,
       CASE WHEN lc > 0 THEN round((lc - lcd) / CAST(lc AS DOUBLE), 4) ELSE 0.0 END AS dup_line_char_frac,
       np::BIGINT AS n_paragraphs,
       CASE WHEN np > 0 THEN round((np - npd) / CAST(np AS DOUBLE), 4) ELSE 0.0 END AS dup_para_frac,
       CASE WHEN pc > 0 THEN round((pc - pcd) / CAST(pc AS DOUBLE), 4) ELSE 0.0 END AS dup_para_char_frac
FROM s
""",
    doc="LINE-level Gopher repetition rules (r15 — the half "
    "text_repetition_signals documents as intentionally absent over "
    "the single-line documents table; Rae et al. 2021 §A1.1): "
    "duplicate line / paragraph fractions by count and by character "
    "mass over the reference's 355-chapter corpus, which has REAL "
    "line structure (blank-line paragraph breaks in 276 chapters). "
    "The Spark side reads the corpus through the MANIFEST source "
    "(whole-file load, src/tema1.cpp:331 analog) while the oracle "
    "reads the independently-landed parquet — the same two-path "
    "independence as reference_corpus_index, now proving newline "
    "PRESERVATION through the whole-file source as well. Zero-shuffle "
    "array-fold projection (operators/text_analysis.py:"
    "line_repetition_signals); partition-parallel at any corpus size.",
    tags=("text", "quality", "curation", "llm-pipeline", "reference"),
)
def text_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import line_repetition_signals

    docs = read_manifest_documents(spark, _REF_MANIFEST)
    return line_repetition_signals(docs)
